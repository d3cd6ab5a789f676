"""Stage B — ordered graph-rewrite rules (B1-B11).

Reference driver: GoCAM.applySparqlRules (GoCAM.java:974-999) — order is
load-bearing. Each reference rule is SPARQL-match -> Java mutation ->
full Jena model rebuild; here each rule is a pure DataFrame function
  rule(triples, ...) -> (adds, delete_keys [, node_deletes, audit])
and the pipeline folds them left-to-right with checkpoints, so there is
no representation ping-pong (the reference rebuilds the whole graph ~10x
per pathway, GoCAM.java:1020 et al.).

Snapshot discipline (SURVEY.md §4d): B4 deliberately does NOT refresh the
model before B5 (comment GoCAM.java:1504-1506), so B4 and B5 are matched
against the SAME post-B3 snapshot and their add/delete sets applied
together — reproduced exactly by `b4_b5_delta`.

Every join carries model_id in the key: triples are hash-partitioned by
model_id, so rule self-joins co-partition and never shuffle the fact
table against itself across models. Dims are broadcast. The B4/B5
type-equijoins are the canonical hub-skew joins (mega-complex types,
promiscuous molecules) — defended by the same-pathway key extension
(as the reference does), do-not-join exclusions, and AQE skew splitting.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import Dims

_KEY = ["model_id", "subj", "pred", "obj"]


def _ident(df: DataFrame) -> DataFrame:
    return df


def _adds(df: DataFrame, subj, pred, obj, rule: str) -> DataFrame:
    lit = lambda x: F.lit(x) if isinstance(x, str) else x  # noqa: E731
    return df.select(
        F.col("model_id"),
        lit(subj).alias("subj"),
        lit(pred).alias("pred"),
        lit(obj).alias("obj"),
        F.lit(V.ECO_INFERRED).alias("evidence"),
        F.lit(rule).alias("rule"),
    ).distinct()


def apply_delta(
    triples: DataFrame,
    adds: list[DataFrame] | None = None,
    deletes: list[DataFrame] | None = None,
    node_deletes: list[DataFrame] | None = None,
) -> DataFrame:
    """Apply add/delete sets. deletes: (model_id,subj,pred,obj) keys;
    node_deletes: (model_id, node) -> remove every triple referencing the
    node (deleteOwlEntityAndAllReferencesToIt, GoCAM.java:885-928).

    Delete key sets are rule hits — bounded by the reactions of the models
    on this path, never by corpus size (the distributed path only carries
    mega-models; everything else is fused per-doc) — so they broadcast,
    turning every anti-join into a shuffle-free BroadcastHashJoin of the
    fact table.

    No set-semantics dedupe: the result may carry duplicate
    (model_id,subj,pred,obj) keys (rule matches are themselves deduped
    via distinct() on the hit/add/delete sets, so duplicates only
    multiply intermediate rows, never change any rule's match set);
    callers that need a set finish with merge_triples. The production
    chain tracks state as a VTriples (apply_delta_v) and finishes with
    merge_virtual, so the fact table never enters a hash exchange at
    all; this plain-DataFrame form serves single-delta callers and is
    the property-test reference."""
    t = triples
    # set difference is associative: union the call's delete key sets
    # first so the fact table pays ONE broadcast anti-join per key shape
    # instead of one per rule (each anti-join is a separate broadcast
    # build inside the downstream merge job)
    if deletes:
        allk = deletes[0].select(*_KEY)
        for d in deletes[1:]:
            allk = allk.unionByName(d.select(*_KEY))
        t = t.join(F.broadcast(allk.distinct()), _KEY, "left_anti")
    if node_deletes:
        nd_all = node_deletes[0].select("model_id", "node")
        for nd in node_deletes[1:]:
            nd_all = nd_all.unionByName(nd.select("model_id", "node"))
        # alias the broadcast side: the delete sets derive FROM t, so an
        # unaliased model_id==model_id predicate is ambiguous under
        # shared lineage (Spark disambiguates but warns)
        nodes = F.broadcast(nd_all.distinct().select(
            F.col("model_id").alias("__nd_mid"), F.col("node").alias("__nd_node")
        ))
        t = t.join(
            nodes, (t.model_id == nodes.__nd_mid) & (t.subj == nodes.__nd_node),
            "left_anti")
        t = t.join(
            nodes, (t.model_id == nodes.__nd_mid) & (t.obj == nodes.__nd_node),
            "left_anti")
    for a in adds or []:
        t = t.unionByName(a)
    return t


def merge_triples(t: DataFrame) -> DataFrame:
    """Set-semantics dedupe on the triple key (min evidence/rule per key —
    deterministic provenance pick)."""
    return t.groupBy(*_KEY).agg(
        F.min("evidence").alias("evidence"), F.min("rule").alias("rule")
    )


class VTriples:
    """Base + adds decomposition of the delta-virtual rule chain.

    Invariant: `base` is key-unique on (model_id, subj, pred, obj) — it is
    the stage-A dedupe output with only anti-joins applied, and anti-joins
    preserve uniqueness. `adds` are the small materialized rule add-sets
    (each distinct within itself; may collide with base or each other).

    The current snapshot a rule matches against is `view()` = base UNION
    adds — exactly the plan the plain DataFrame chain builds — but keeping
    the two parts separate lets `merge_virtual` produce the final
    set-semantics table WITHOUT the full-table hash exchange
    merge_triples pays: only rows whose key collides with an add-set key
    (bounded by rule matches, never corpus size) go through a groupBy;
    the rest of the fact table moves base -> sink with broadcast-hash
    probes only. On the 150k-reaction skew bench that removes the chain's
    one remaining full-table shuffle."""

    __slots__ = ("base", "adds")

    def __init__(self, base: DataFrame, adds: tuple = ()):
        self.base = base
        self.adds = tuple(adds)

    def view(self) -> DataFrame:
        t = self.base
        for a in self.adds:
            t = t.unionByName(a)
        return t

    def filter_each(self, fn) -> "VTriples":
        """Apply a uniqueness-preserving row filter to every component."""
        return VTriples(fn(self.base), tuple(fn(a) for a in self.adds))


def apply_delta_v(
    vt: VTriples,
    adds: list[DataFrame] | None = None,
    deletes: list[DataFrame] | None = None,
    node_deletes: list[DataFrame] | None = None,
) -> VTriples:
    """apply_delta with the base/adds split kept explicit. Semantics are
    identical to apply_delta(view, ...): delete key sets
    anti-join every component accumulated SO FAR (base and prior adds —
    a later rule's delete also removes an earlier rule's adds, as in the
    reference's in-place mutation), then the call's own adds are
    appended unfiltered."""
    base, prior = vt.base, list(vt.adds)
    if deletes:
        allk = deletes[0].select(*_KEY)
        for d in deletes[1:]:
            allk = allk.unionByName(d.select(*_KEY))
        bk = F.broadcast(allk.distinct())
        base = base.join(bk, _KEY, "left_anti")
        prior = [a.join(bk, _KEY, "left_anti") for a in prior]
    if node_deletes:
        nd_all = node_deletes[0].select("model_id", "node")
        for nd in node_deletes[1:]:
            nd_all = nd_all.unionByName(nd.select("model_id", "node"))
        # aliased broadcast side — see apply_delta
        nodes = F.broadcast(nd_all.distinct().select(
            F.col("model_id").alias("__nd_mid"), F.col("node").alias("__nd_node")
        ))

        def _nd(t: DataFrame) -> DataFrame:
            t = t.join(nodes, (t.model_id == nodes.__nd_mid)
                       & (t.subj == nodes.__nd_node), "left_anti")
            return t.join(nodes, (t.model_id == nodes.__nd_mid)
                          & (t.obj == nodes.__nd_node), "left_anti")

        base = _nd(base)
        prior = [_nd(a) for a in prior]
    return VTriples(base, tuple(prior) + tuple(adds or ()))


def merge_virtual(vt: VTriples, ck=_ident) -> DataFrame:
    """Set-semantics merge of a VTriples — the shuffle-free replacement
    for merge_triples(vt.view()): the fact table never enters a hash
    exchange and is scanned exactly ONCE.

      1. each add frame is materialized concurrently (small eager jobs —
         their accumulated delete-probe stacks are paid once, in
         parallel, instead of once per downstream reference);
      2. A = merge_triples(union of add leaves) — a small shuffle;
      3. combined = base LEFT-JOIN broadcast(A) with a hit flag,
         min-combining evidence/rule per key in the join projection —
         the single scan of the fact table, materialized by `ck`;
      4. A-only rows (keys absent from base) = A anti the (small,
         A-bounded) collided-key set read back off the combined leaf.

    Equivalence to merge_triples(view): base is key-unique, so min
    evidence/rule per key only has work to do where an add-set key
    appears — the left join computes exactly that min (F.least skips
    nulls like the min aggregate), every other base row is already the
    unique representative, and A-only keys keep A's pre-merged row.

    The returned plan is (combined-leaf scan) UNION (small anti-join) —
    cheap to re-reference, so callers should NOT re-checkpoint it."""
    if not vt.adds:
        return vt.base
    adds = par(*[lambda a=a: ck(a) for a in vt.adds])
    a = adds[0]
    for x in adds[1:]:
        a = a.unionByName(x)
    a = ck(merge_triples(a))
    a_side = a.select(
        *_KEY,
        F.col("evidence").alias("__aev"), F.col("rule").alias("__arl"),
        F.lit(True).alias("__hit"),
    )
    j = vt.base.join(F.broadcast(a_side), _KEY, "left")
    combined = ck(j.select(
        *_KEY,
        F.when(F.col("__hit").isNull(), F.col("evidence"))
        .otherwise(F.least("evidence", "__aev")).alias("evidence"),
        F.when(F.col("__hit").isNull(), F.col("rule"))
        .otherwise(F.least("rule", "__arl")).alias("rule"),
        F.coalesce("__hit", F.lit(False)).alias("__hit"),
    ))
    coll_keys = combined.filter("__hit").select(*_KEY)
    a_only = a.join(F.broadcast(coll_keys), _KEY, "left_anti")
    return combined.drop("__hit").unionByName(a_only)


def _p(t: DataFrame, pred: str, s: str = "subj", o: str = "obj") -> DataFrame:
    return t.filter(F.col("pred") == pred).select("model_id", F.col("subj").alias(s),
                                                  F.col("obj").alias(o))


def _same_pathway_causal(t: DataFrame) -> DataFrame:
    """(model_id, r1, r2, pathway): causally_upstream_of pairs whose two
    reactions share a pathway (the reference's explosion guard for
    promiscuous molecules — also our skew defense)."""
    po = _p(t, V.PART_OF, "r", "pathway")
    c = _p(t, V.CAUSALLY_UPSTREAM, "r1", "r2").filter(F.col("r1") != F.col("r2"))
    return (
        c.join(po.withColumnRenamed("r", "r1"), ["model_id", "r1"])
        .join(po.withColumnRenamed("r", "r2").withColumnRenamed("pathway", "p2"),
              ["model_id", "r2"])
        .filter(F.col("pathway") == F.col("p2"))
        .select("model_id", "r1", "r2", "pathway")
        .distinct()
    )


# ----------------------------------------------------------------------
# B10 (runs first): drug-reaction removal (wrapAndWrite BioPaxtoGO.java:552-559;
# GoCAM.removeDrugReactions :2009-2075)
# ----------------------------------------------------------------------

def par(*fns):
    """Run independent delta/hit computations on concurrent driver
    threads. Spark job submission is thread-safe; each eager
    localCheckpoint is a blocking job of few short tasks, so running
    independent ones concurrently fills the scheduler gaps a sequential
    chain leaves (same pattern a multi-tenant cluster sees anyway)."""
    if len(fns) == 1:
        return [fns[0]()]
    with ThreadPoolExecutor(len(fns)) as ex:
        return [f.result() for f in [ex.submit(fn) for fn in fns]]


def b10_delta(t: DataFrame, drug_reactions: DataFrame, ck=_ident) -> dict:
    dr = drug_reactions.select("model_id", F.col("reaction").alias("node")).distinct()
    neigh = (
        t.filter(F.col("pred").isin(V.HAS_INPUT, V.HAS_OUTPUT, V.ENABLED_BY, V.OCCURS_IN))
        .join(dr.withColumnRenamed("node", "subj"), ["model_id", "subj"])
        .select("model_id", F.col("obj").alias("node"))
    )
    return {"node_deletes": [ck(dr.unionByName(neigh).distinct())]}


# ----------------------------------------------------------------------
# B1: molecular_event + enabled_by -> molecular function
# (inferMolecularFunctionFromEnablers, GoCAM.java:1001-1025)
# ----------------------------------------------------------------------

def b1_delta(t: DataFrame, ck=_ident) -> dict:
    me = t.filter((F.col("pred") == V.TYPE) & (F.col("obj") == V.MOLECULAR_EVENT))
    enabled = _p(t, V.ENABLED_BY, "subj", "e").select("model_id", "subj").distinct()
    hits = ck(me.join(enabled, ["model_id", "subj"]))
    return {
        "adds": [_adds(hits, F.col("subj"), V.TYPE, V.MF_ROOT, "B1")],
        "deletes": [hits],
    }


# ----------------------------------------------------------------------
# B2: occurs_in from entity locations (inferOccursInFromEntityLocations,
# GoCAM.java:1178-1234; query2update_occurs_in.rq)
# ----------------------------------------------------------------------

def b2_delta(t: DataFrame, ck=_ident) -> dict:
    fwd = t.filter(F.col("pred").isin(V.HAS_INPUT, V.HAS_OUTPUT, V.ENABLED_BY)).select(
        "model_id", F.col("subj").alias("reaction"), F.col("pred").alias("rel"),
        F.col("obj").alias("entity"),
    )
    rev = t.filter(F.col("pred").isin(V.INV_POS_REG, V.INV_NEG_REG)).select(
        "model_id", F.col("obj").alias("reaction"), F.col("pred").alias("rel"),
        F.col("subj").alias("entity"),
    )
    rel_ent = fwd.unionByName(rev)
    loc_edge = _p(t, V.LOCATED_IN, "entity", "loc_node")
    loc_type = _p(t, V.TYPE, "loc_node", "loc_type").filter(
        F.col("loc_type") != V.CC_ROOT
    )
    ent_loc = rel_ent.join(loc_edge, ["model_id", "entity"]).join(
        loc_type, ["model_id", "loc_node"]
    )
    agg = ent_loc.groupBy("model_id", "reaction").agg(
        F.collect_set(F.when(F.col("rel") == V.ENABLED_BY, F.col("loc_type"))).alias("enabler_locs"),
        F.collect_set("loc_type").alias("all_locs"),
    )
    chosen = agg.withColumn(
        "loc",
        F.when(F.size("enabler_locs") == 1, F.element_at("enabler_locs", 1)).otherwise(
            F.when((F.size("enabler_locs") == 0) & (F.size("all_locs") == 1),
                   F.element_at("all_locs", 1))
        ),
    ).filter(F.col("loc").isNotNull()).withColumn(
        "loc_node", F.concat("reaction", F.lit("~oc~"), "loc")
    )
    chosen = ck(chosen)
    return {
        "adds": [
            _adds(chosen, F.col("reaction"), V.OCCURS_IN, F.col("loc_node"), "B2"),
            _adds(chosen, F.col("loc_node"), V.TYPE, F.col("loc"), "B2"),
        ],
    }


# ----------------------------------------------------------------------
# B3: regulates-via-output-regulates, "Entity Regulation Rule 1"
# (inferRegulatesViaOutputRegulates GoCAM.java:1250-1296;
#  query2update_regulation_1.rq: direct exactMatch OR complex has_part)
# ----------------------------------------------------------------------

def b3_delta(t: DataFrame, ck=_ident) -> dict:
    """No emptiness guard here: the pipeline's pred census decides
    whether B3 runs at all (an empty regulator set just matches nothing)."""
    reg = t.filter(F.col("pred").isin(V.INV_POS_REG, V.INV_NEG_REG)).select(
        "model_id", F.col("subj").alias("z"), F.col("pred").alias("prop"),
        F.col("obj").alias("r2"),
    )
    causal = _same_pathway_causal(t)
    exact = _p(t, V.EXACT, "node", "ref")
    out = _p(t, V.HAS_OUTPUT, "r1", "o").join(
        exact.withColumnRenamed("node", "o").withColumnRenamed("ref", "oref"),
        ["model_id", "o"],
    )
    # direct: z exactMatch == r1-output exactMatch
    zx = exact.withColumnRenamed("node", "z").withColumnRenamed("ref", "zmatch")
    direct = reg.join(zx, ["model_id", "z"])
    # complex: some complex cx has_part z, cx exactMatch == output exactMatch
    hp = _p(t, V.HAS_PART, "cx", "z")
    cx_ref = exact.withColumnRenamed("node", "cx").withColumnRenamed("ref", "zmatch")
    via_cx = reg.join(hp, ["model_id", "z"]).join(cx_ref, ["model_id", "cx"]).drop("cx")
    zmatched = direct.unionByName(via_cx)
    hits = (
        zmatched.join(out.withColumnRenamed("oref", "zmatch"), ["model_id", "zmatch"])
        .join(causal, ["model_id", "r1", "r2"])
        .select("model_id", "z", "prop", "r1", "r2", "pathway")
        .distinct()
        .withColumn("binding", F.concat("r1", F.lit("~bind~"), "z"))
        .withColumn(
            "reg_pred",
            F.when(F.col("prop") == V.INV_POS_REG, F.lit(V.DIRECTLY_POS_REGULATES))
            .otherwise(F.lit(V.DIRECTLY_NEG_REGULATES)),
        )
    )
    hits = ck(hits)
    return {
        "adds": [
            _adds(hits, F.col("binding"), V.TYPE, V.BINDING, "B3"),
            _adds(hits, F.col("binding"), V.HAS_INPUT, F.col("z"), "B3"),
            _adds(hits, F.col("binding"), V.PART_OF, F.col("pathway"), "B3"),
            _adds(hits, F.col("r1"), V.PROVIDES_INPUT, F.col("binding"), "B3"),
            _adds(hits, F.col("binding"), F.col("reg_pred"), F.col("r2"), "B3"),
        ],
        "deletes": [
            hits.select("model_id", F.col("z").alias("subj"),
                        F.col("prop").alias("pred"), F.col("r2").alias("obj")),
            hits.select("model_id", F.col("r1").alias("subj"),
                        F.lit(V.CAUSALLY_UPSTREAM).alias("pred"),
                        F.col("r2").alias("obj")),
        ],
    }


# ----------------------------------------------------------------------
# B4 + B5 on one shared snapshot.
# B4: regulates-via-output-enables, "Entity Regulation Rule 3"
#     (inferRegulatesViaOutputEnables GoCAM.java:1343-1508)
# B5: provides-input-for (inferProvidesInput GoCAM.java:1510-1545;
#     query2update_provides_input_for.rq)
# B4 intentionally leaves the query snapshot stale so B5 still sees the
# causally_upstream_of edges B4 deleted (GoCAM.java:1504-1506).
# ----------------------------------------------------------------------

def b4_b5_delta(t: DataFrame, dims: Dims, ck=_ident, salt: int | None = None) -> dict:
    """salt: when set, the case-1/case-2 type equijoins run through
    relational.salted_join. The exposure: a collector reaction with K
    upstream causal partners whose outputs share ONE type puts K rows
    on a single (model_id, r2, type) shuffle key — the same-pathway key
    extension cannot split it (same model, same reaction) and AQE only
    splits it post-shuffle, after the single fetch stream. Salting
    spreads the hot key across `salt` partitions before the exchange
    at the cost of replicating the SMALL per-reaction type tables
    (en_t / en_cplx) `salt` times, so the pipeline routes it on by
    census size (mega-model inputs only), the same auto-routing that
    picks the distributed path. Output is provably identical to the
    unsalted join (tests/test_stage_b_optional.py)."""
    # ck the shared pair tables: causal feeds three downstream joins
    # (case1, case2, B5) and out_t/en_t two each — materializing these
    # small tables once (bounded by reactions per model) beats re-running
    # their join trees per reference
    types = _p(t, V.TYPE, "node", "cls")
    causal, out_t, en_t = par(
        lambda: ck(_same_pathway_causal(t)),
        lambda: ck(_p(t, V.HAS_OUTPUT, "r1", "o").join(
            types.withColumnRenamed("node", "o").withColumnRenamed("cls", "ot"),
            ["model_id", "o"],
        ).select("model_id", "r1", "ot").distinct()),
        lambda: ck(_p(t, V.ENABLED_BY, "r2", "e").join(
            types.withColumnRenamed("node", "e").withColumnRenamed("cls", "et"),
            ["model_id", "e"],
        ).select("model_id", "r2", "et").distinct()),
    )
    # case 1: direct type match (hub-skew join: same-pathway key extension
    # + AQE skew splitting, plus explicit salting on the mega path)
    def type_join(left: DataFrame, right: DataFrame) -> DataFrame:
        if salt is not None:
            from pathways2go_spark.relational import salted_join

            return salted_join(left, right, ["model_id", "r2", "ot"], salt=salt)
        return left.join(right, ["model_id", "r2", "ot"])

    causal_out = causal.join(out_t, ["model_id", "r1"])
    case1 = type_join(
        causal_out, en_t.withColumnRenamed("et", "ot")
    ).select("model_id", "r1", "r2")
    # case 2: enabler type (or any tbox subclass of it) is a part of a
    # complex class that r1 outputs (part->complex index, QRunner.java:950-1027)
    desc = dims.onto_ancestors.select(
        F.col("ancestor_iri").alias("et"), F.col("class_iri").alias("desc")
    )
    cp = dims.complex_parts.select(
        F.col("part_class").alias("desc"), F.col("complex_class").alias("ot")
    )
    en_cplx = (
        en_t.join(F.broadcast(desc), "et")
        .join(F.broadcast(cp), "desc")
        .select("model_id", "r2", "ot")
        .distinct()
    )
    case2 = type_join(causal_out, en_cplx).select("model_id", "r1", "r2")

    # ---- B5 (same snapshot) ----
    exact = _p(t, V.EXACT, "node", "ref")
    outs = _p(t, V.HAS_OUTPUT, "r1", "o").join(
        exact.withColumnRenamed("node", "o").withColumnRenamed("ref", "a"),
        ["model_id", "o"],
    )
    ins = _p(t, V.HAS_INPUT, "r2", "i").join(
        exact.withColumnRenamed("node", "i").withColumnRenamed("ref", "a"),
        ["model_id", "i"],
    )
    o_types = types.withColumnRenamed("node", "o").withColumnRenamed("cls", "ot")
    b4_hits, b5_rows = par(
        lambda: ck(case1.unionByName(case2).distinct()),
        lambda: ck(
            causal.join(outs, ["model_id", "r1"])
            .join(ins, ["model_id", "r2", "a"])
            .join(o_types, ["model_id", "o"])
            .select("model_id", "r1", "r2", "i", "o", "ot")
        ),
    )
    b5_matched = b5_rows.select("model_id", "r1", "r2").distinct()
    b5_adds = (
        b5_rows.filter((F.col("i") != F.col("o")) & ~F.col("ot").isin(V.DO_NOT_JOIN))
        .select("model_id", "r1", "r2")
        .distinct()
    )

    def _cu_del(pairs: DataFrame, pred: str) -> DataFrame:
        return pairs.select("model_id", F.col("r1").alias("subj"),
                            F.lit(pred).alias("pred"), F.col("r2").alias("obj"))

    return {
        "adds": [
            _adds(b4_hits, F.col("r1"), V.DIRECTLY_POS_REGULATES, F.col("r2"), "B4"),
            _adds(b5_adds, F.col("r1"), V.PROVIDES_INPUT, F.col("r2"), "B5"),
        ],
        "deletes": [
            _cu_del(b4_hits, V.CAUSALLY_UPSTREAM),
            _cu_del(b4_hits, V.PROVIDES_INPUT),
            _cu_del(b5_matched, V.CAUSALLY_UPSTREAM),
        ],
    }


# ----------------------------------------------------------------------
# B6: small-molecule regulators (inferSmallMoleculeRegulators,
# GoCAM.java:1667-1747): chemical & not nucleic-acid -> has_small_molecule_
# activator/inhibitor; anything else -> delete regulator node + audit.
# ----------------------------------------------------------------------

def b6_delta(t: DataFrame, dims: Dims, ck=_ident) -> tuple[dict, DataFrame]:
    regs = t.filter(F.col("pred").isin(V.INV_POS_REG, V.INV_NEG_REG)).select(
        "model_id", F.col("subj").alias("z"), F.col("pred").alias("prop"),
        F.col("obj").alias("r"),
    )
    ztypes = _p(t, V.TYPE, "z", "zt").join(regs.select("model_id", "z").distinct(),
                                           ["model_id", "z"])
    anc = dims.onto_ancestors.select(F.col("class_iri").alias("zt"),
                                     F.col("ancestor_iri").alias("za"))
    flags = (
        ztypes.join(F.broadcast(anc), "zt", "left")
        .groupBy("model_id", "z")
        .agg(
            F.max((F.col("za") == V.CHEMICAL_ROOT).cast("int")).alias("is_chem"),
            F.max((F.col("za") == V.NUCLEIC_ACID).cast("int")).alias("is_nuc"),
            F.min("zt").alias("ztype"),
        )
    )
    j = ck(regs.join(flags, ["model_id", "z"]))
    chem = j.filter((F.col("is_chem") == 1) & (F.coalesce("is_nuc", F.lit(0)) == 0))
    nonchem = j.filter((F.coalesce("is_chem", F.lit(0)) == 0) | (F.col("is_nuc") == 1))
    sm_pred = F.when(F.col("prop") == V.INV_POS_REG, F.lit(V.SM_ACTIVATOR)).otherwise(
        F.lit(V.SM_INHIBITOR)
    )
    audit = nonchem.select(
        F.lit("DELETING_NON_SMALL_MOL_REGULATOR").alias("rule"),
        "model_id", F.col("r").alias("reaction"), F.col("ztype").alias("detail"),
    ).distinct()
    delta = {
        "adds": [_adds(chem, F.col("r"), sm_pred, F.col("z"), "B6")],
        "deletes": [chem.select("model_id", F.col("z").alias("subj"),
                                F.col("prop").alias("pred"), F.col("r").alias("obj"))],
        "node_deletes": [nonchem.select("model_id", F.col("z").alias("node"))],
    }
    return delta, audit


# ----------------------------------------------------------------------
# B7: delete complexes with active units (deleteComplexesWithActiveUnits,
# GoCAM.java:1749-1757): complex has_part X and some reaction
# has_input/enabled_by X -> delete the complex node.
# ----------------------------------------------------------------------

def b7_delta(t: DataFrame, ck=_ident) -> dict:
    hp = _p(t, V.HAS_PART, "cx", "x")
    used = (
        t.filter(F.col("pred").isin(V.HAS_INPUT, V.ENABLED_BY))
        .select("model_id", F.col("obj").alias("x"))
        .distinct()
    )
    doomed = hp.join(used, ["model_id", "x"]).select(
        "model_id", F.col("cx").alias("node")
    ).distinct()
    return {"node_deletes": [ck(doomed)]}


# ----------------------------------------------------------------------
# B8: delete disallowed relations (deleteDisallowedRelations,
# GoCAM.java:1759-1783): all located_in edges + their location nodes,
# plus any leftover involved_in_*_regulation_of edges.
# ----------------------------------------------------------------------

def b8_delta(t: DataFrame, ck=_ident) -> dict:
    loc_nodes = _p(t, V.LOCATED_IN, "s", "node").select("model_id", "node")
    return {"node_deletes": [ck(loc_nodes.distinct())]}


def b8_pred_filter(t: DataFrame) -> DataFrame:
    return t.filter(~F.col("pred").isin(V.LOCATED_IN, V.INV_REG, V.INV_POS_REG,
                                        V.INV_NEG_REG))


# ----------------------------------------------------------------------
# B9: unconnected-node cleanup (cleanOutUnconnectedNodes, GoCAM.java:1974-2007)
# ----------------------------------------------------------------------

def b9_orphans(t: DataFrame) -> DataFrame:
    """(model_id, node) set of unconnected nodes. Both inputs are
    DISTINCT node sets, so the computation is insensitive to duplicate
    triple keys — callers may evaluate it on an unmerged
    delta-chain table and fold the set-dedupe into the same final pass."""
    edges = t.filter(F.col("pred").isin(V.EDGE_PREDS))
    connected = (
        edges.select("model_id", F.col("subj").alias("node"))
        .unionByName(edges.select("model_id", F.col("obj").alias("node")))
        .distinct()
    )
    candidates = t.filter(F.col("pred").isin(V.TYPE, V.EXACT)).select(
        "model_id", F.col("subj").alias("node")
    ).distinct()
    return candidates.join(connected, ["model_id", "node"], "left_anti")


def b9_clean_unconnected(t: DataFrame) -> DataFrame:
    return apply_delta(t, node_deletes=[b9_orphans(t)])


# ----------------------------------------------------------------------
# B11: skip-empty-model gate (BioPaxtoGO.java:588-599): keep a model only
# if it has a molecular_event or an MF-closure type.
# ----------------------------------------------------------------------

def b11_model_gate(t: DataFrame, dims: Dims) -> DataFrame:
    mf = dims.onto_ancestors.filter(F.col("ancestor_iri") == V.MF_ROOT).select(
        F.col("class_iri").alias("obj")
    )
    ty = t.filter(F.col("pred") == V.TYPE)
    active = (
        ty.filter(F.col("obj") == V.MOLECULAR_EVENT)
        .select("model_id")
        .unionByName(ty.join(F.broadcast(mf), "obj").select("model_id"))
        .distinct()
    )
    return t.join(active, "model_id", "left_semi")


# ----------------------------------------------------------------------
# B12 (OPTIONAL — disabled in the reference per issue #345, comment
# GoCAM.java:978-979; kept behind a flag for parity): transport
# inference. Reference impl GoCAM.inferTransportProcess
# (GoCAM.java:1075-1167) + match query2update_localization.rq.
# Not part of the default rule chain; callers opt in explicitly
# (matching the reference, where the call site is commented out).
# ----------------------------------------------------------------------

def b12_transport_inference(t: DataFrame, dims: Dims) -> DataFrame:
    """Match: a reaction whose input and output are the SAME entity
    (identity via skos:exactMatch, our A12 key — the reference matches
    rdfs:label equality) located in two DIFFERENT location classes,
    neither the CC root. Rewrite (GoCAM.java:1090-1167):

      * molecular_event / MF-root typed reactions are retyped to
        protein-transporter (input in the protein closure) or
        transporter activity; otherwise the reaction is skipped unless
        its type is already in the transporter closure;
      * start/end location individuals with has_target_start/end_location;
      * a `transported` clone of the input with has_primary_input;
      * ALL has_input/has_output edges of the matched reactions deleted,
        their IO entity nodes removed entirely.
    """
    ty = _p(t, V.TYPE, "node", "cls")
    loc = _p(t, V.LOCATED_IN, "node", "loc_node")
    loc_ty = ty.select("model_id", F.col("node").alias("loc_node"),
                       F.col("cls").alias("loc_cls"))
    ex = _p(t, V.EXACT, "node", "ref")
    hi = _p(t, V.HAS_INPUT, "reaction", "in_node")
    ho = _p(t, V.HAS_OUTPUT, "reaction", "out_node")

    located = (
        loc.join(loc_ty, ["model_id", "loc_node"])
        .filter(F.col("loc_cls") != V.CC_ROOT)
        .select("model_id", "node", "loc_cls")
    )
    inp = (
        hi.join(located.withColumnRenamed("node", "in_node")
                       .withColumnRenamed("loc_cls", "start_cls"),
                ["model_id", "in_node"])
        .join(ex.withColumnRenamed("node", "in_node").withColumnRenamed("ref", "iref"),
              ["model_id", "in_node"])
    )
    outp = (
        ho.join(located.withColumnRenamed("node", "out_node")
                       .withColumnRenamed("loc_cls", "end_cls"),
                ["model_id", "out_node"])
        .join(ex.withColumnRenamed("node", "out_node").withColumnRenamed("ref", "oref"),
              ["model_id", "out_node"])
    )
    moved = (
        inp.join(outp, ["model_id", "reaction"])
        .filter((F.col("iref") == F.col("oref"))
                & (F.col("start_cls") != F.col("end_cls")))
    )

    # reaction-type gate: retype molecular_event/MF-root; keep reactions
    # already typed inside the transporter closure; skip the rest
    rty = ty.select("model_id", F.col("node").alias("reaction"),
                    F.col("cls").alias("rcls"))
    trans_cls = dims.onto_ancestors.filter(
        F.col("ancestor_iri") == V.TRANSPORTER
    ).select(F.col("class_iri").alias("rcls"))
    moved_ty = moved.join(rty, ["model_id", "reaction"]).withColumn(
        "retype",
        F.col("rcls").isin(V.MOLECULAR_EVENT, V.MF_ROOT),
    )
    in_trans = moved_ty.join(F.broadcast(trans_cls), ["rcls"], "left_semi")
    keep = moved_ty.filter(F.col("retype")).unionByName(in_trans).dropDuplicates(
        ["model_id", "reaction", "in_node", "out_node", "rcls"]
    )
    # one transport decision per reaction (reference guards with a set).
    # The (start, end) pair is picked as one matched struct — column-wise
    # mins could combine a start and an end that never co-occurred when a
    # reaction matches two transported entities with different compartment
    # pairs.
    rxn = (
        keep.groupBy("model_id", "reaction")
        .agg(
            F.min(F.struct("start_cls", "end_cls")).alias("se"),
            F.max(F.col("retype").cast("int")).alias("retype"),
        )
        .select(
            "model_id", "reaction",
            F.col("se.start_cls").alias("start_cls"),
            F.col("se.end_cls").alias("end_cls"),
            "retype",
        )
    )

    # protein-closure membership of the transported thing's class
    in_ty = ty.select("model_id", F.col("node").alias("in_node"),
                      F.col("cls").alias("thing_cls"))
    prot = dims.onto_ancestors.filter(
        F.col("ancestor_iri") == V.PROTEIN_ROOT
    ).select(F.col("class_iri").alias("thing_cls"))
    thing = (
        keep.select("model_id", "reaction", "in_node")
        .join(in_ty, ["model_id", "in_node"])
        .join(F.broadcast(prot).withColumn("is_prot", F.lit(True)),
              ["thing_cls"], "left")
        .groupBy("model_id", "reaction")
        .agg(F.max(F.coalesce("is_prot", F.lit(False)).cast("int")).alias("is_prot"))
    )

    new_type = (
        rxn.filter(F.col("retype") == 1)
        .join(thing, ["model_id", "reaction"], "left")
        .withColumn("ttype", F.when(F.col("is_prot") == 1,
                                    F.lit(V.PROTEIN_TRANSPORTER))
                              .otherwise(F.lit(V.TRANSPORTER)))
    )
    start = rxn.withColumn(
        "n", F.concat(F.col("reaction"), F.lit("~tstart~"), F.col("start_cls"))
    )
    end = rxn.withColumn(
        "n", F.concat(F.col("reaction"), F.lit("~tend~"), F.col("end_cls"))
    )
    transported = (
        keep.select("model_id", "reaction", "in_node")
        .join(in_ty, ["model_id", "in_node"])
        .join(ex.withColumnRenamed("node", "in_node"), ["model_id", "in_node"])
        .withColumn("n", F.concat(F.col("in_node"), F.lit("~transported")))
        .distinct()
    )

    adds = [
        _adds(new_type, F.col("reaction"), V.TYPE, F.col("ttype"), "B12"),
        _adds(start, F.col("reaction"), V.HAS_TARGET_START_LOC, F.col("n"), "B12"),
        _adds(start, F.col("n"), V.TYPE, F.col("start_cls"), "B12"),
        _adds(end, F.col("reaction"), V.HAS_TARGET_END_LOC, F.col("n"), "B12"),
        _adds(end, F.col("n"), V.TYPE, F.col("end_cls"), "B12"),
        _adds(transported, F.col("reaction"), V.HAS_PRIMARY_INPUT, F.col("n"), "B12"),
        _adds(transported, F.col("n"), V.TYPE, F.col("thing_cls"), "B12"),
        _adds(transported, F.col("n"), V.EXACT, F.col("ref"), "B12"),
    ]
    # delete old molecular_event/MF-root type rows on retyped reactions
    old_ty = (
        rxn.filter(F.col("retype") == 1)
        .select("model_id", F.col("reaction").alias("subj"))
        .join(t.filter((F.col("pred") == V.TYPE)
                       & F.col("obj").isin(V.MOLECULAR_EVENT, V.MF_ROOT))
               .select("model_id", "subj", "pred", "obj"),
              ["model_id", "subj"])
    )
    # delete IO edges + IO entity nodes of transport reactions
    r_keys = rxn.select("model_id", "reaction")
    io_edges = (
        t.filter(F.col("pred").isin(V.HAS_INPUT, V.HAS_OUTPUT))
        .join(r_keys.withColumnRenamed("reaction", "subj"), ["model_id", "subj"],
              "left_semi")
    )
    io_nodes = io_edges.select("model_id", F.col("obj").alias("node")).distinct()
    return merge_triples(apply_delta(
        t,
        adds=adds,
        deletes=[old_ty.select(*_KEY), io_edges.select(*_KEY)],
        node_deletes=[io_nodes],
    ))


# ----------------------------------------------------------------------
# B13 (OPTIONAL — disabled in the reference, call site commented out at
# GoCAM.java:981): enabler-from-upstream. Reference impl
# GoCAM.inferEnablersFromUpstream (GoCAM.java:1027-1063) + match query
# query2update_enabled_by_events.rq (QRunner.findMolecularEvents
# QRunner.java:1156-1182).
# ----------------------------------------------------------------------

# causal relations accepted as "upstream" by the reference's VALUES list
_B13_UP_RELS = [
    V.DIRECTLY_POS_REGULATED_BY, V.DIRECTLY_NEG_REGULATED_BY,
    V.PROVIDES_INPUT, V.CAUSALLY_UPSTREAM, V.NEG_REGULATES, V.POS_REGULATES,
]


def b13_enabler_from_upstream(t: DataFrame, dims: Dims) -> DataFrame:
    """Match: a molecular_event reaction whose input's type equals the
    output type of a causally-upstream reaction. Gate: exactly ONE such
    (input, type) pair for the reaction (inputs.size()==1,
    GoCAM.java:1038) and the input type is in the protein or complex
    closure (:1044). Rewrite: has_input -> enabled_by (:1049-1052)."""
    me = (
        t.filter((F.col("pred") == V.TYPE) & (F.col("obj") == V.MOLECULAR_EVENT))
        .select("model_id", F.col("subj").alias("reaction"))
        .distinct()
    )
    ty = _p(t, V.TYPE, "node", "cls").filter(F.col("cls") != V.MOLECULAR_EVENT)
    hi = _p(t, V.HAS_INPUT, "reaction", "input")
    inputs = (
        hi.join(me, ["model_id", "reaction"], "left_semi")
        .join(ty.withColumnRenamed("node", "input").withColumnRenamed("cls", "in_cls"),
              ["model_id", "input"])
    )
    up = t.filter(F.col("pred").isin(_B13_UP_RELS)).select(
        "model_id", F.col("subj").alias("upstream"), F.col("obj").alias("reaction")
    )
    up_out_ty = (
        _p(t, V.HAS_OUTPUT, "upstream", "out_node")
        .join(ty.withColumnRenamed("node", "out_node").withColumnRenamed("cls", "in_cls"),
              ["model_id", "out_node"])
        .select("model_id", "upstream", "in_cls")
        .distinct()
    )
    matched = (
        inputs.join(up, ["model_id", "reaction"])
        .join(up_out_ty, ["model_id", "upstream", "in_cls"], "left_semi")
        .select("model_id", "reaction", "input", "in_cls")
        .distinct()
    )
    gated = (
        matched.groupBy("model_id", "reaction")
        .agg(F.collect_set(F.struct("input", "in_cls")).alias("pairs"))
        .filter(F.size("pairs") == 1)
        .select("model_id", "reaction",
                F.col("pairs")[0]["input"].alias("input"),
                F.col("pairs")[0]["in_cls"].alias("in_cls"))
    )
    prot_or_cx = dims.onto_ancestors.filter(
        F.col("ancestor_iri").isin(V.PROTEIN_ROOT, V.COMPLEX_GO)
    ).select(F.col("class_iri").alias("in_cls"))
    gated = gated.join(F.broadcast(prot_or_cx), ["in_cls"], "left_semi")
    dels = gated.select(
        "model_id", F.col("reaction").alias("subj"),
        F.lit(V.HAS_INPUT).alias("pred"), F.col("input").alias("obj"),
    )
    adds = [_adds(gated, F.col("reaction"), V.ENABLED_BY, F.col("input"), "B13")]
    return merge_triples(apply_delta(t, adds=adds, deletes=[dels]))


# ----------------------------------------------------------------------
# B14 (OPTIONAL — disabled in the reference, call site commented out at
# GoCAM.java:982): negative regulation by sequestration. Reference impl
# GoCAM.inferNegativeRegulationByBinding (GoCAM.java:1310-1341) + match
# query2update_regulation_by_sequestration.rq (QRunner.java:490-517).
# ----------------------------------------------------------------------

def b14_regulation_by_sequestration(t: DataFrame) -> DataFrame:
    """Match (same pathway; the query's explosion guard): binder R1 has
    two distinct inputs A,B and an output (the A/B complex); R2 is
    enabled by an instance sharing A's exactMatch ref. Guards: R1's
    output ref must not feed any other reaction (FILTER !BOUND), and no
    active-unit complex contributes_to R2 (FILTER NOT EXISTS). Rewrite:
    add R1 directly_negatively_regulates R2 (eco inferred, :1334)."""
    po = _p(t, V.PART_OF, "r", "pathway")
    ex = _p(t, V.EXACT, "node", "ref")
    hi = _p(t, V.HAS_INPUT, "r1", "ia")
    ho = _p(t, V.HAS_OUTPUT, "r1", "out_node")
    en = _p(t, V.ENABLED_BY, "r2", "enabler")

    # R1 must have >= 2 distinct inputs (?inputA != ?inputB)
    multi_in = (
        hi.groupBy("model_id", "r1").agg(F.countDistinct("ia").alias("n"))
        .filter(F.col("n") >= 2).select("model_id", "r1")
    )
    a_ref = hi.join(multi_in, ["model_id", "r1"], "left_semi").join(
        ex.withColumnRenamed("node", "ia"), ["model_id", "ia"]
    )
    en_ref = en.join(ex.withColumnRenamed("node", "enabler"), ["model_id", "enabler"])
    pair = (
        a_ref.join(en_ref, ["model_id", "ref"])
        .filter(F.col("r1") != F.col("r2"))
        .join(po.withColumnRenamed("r", "r1"), ["model_id", "r1"])
        .join(po.withColumnRenamed("r", "r2")
                .withColumnRenamed("pathway", "p2"), ["model_id", "r2"])
        .filter(F.col("pathway") == F.col("p2"))
        .select("model_id", "r1", "r2", "enabler")
        .distinct()
    )

    # guard 1: R1's output ref is consumed nowhere (input or enabler)
    out_ref = ho.join(ex.withColumnRenamed("node", "out_node"), ["model_id", "out_node"])
    consumed = (
        t.filter(F.col("pred").isin(V.HAS_INPUT, V.ENABLED_BY))
        .select("model_id", F.col("obj").alias("node"))
        .join(ex, ["model_id", "node"])
        .select("model_id", "ref")
        .distinct()
    )
    active_out = out_ref.join(consumed, ["model_id", "ref"], "left_semi").select(
        "model_id", "r1"
    )
    pair = pair.join(active_out, ["model_id", "r1"], "left_anti")

    # guard 2: no active-unit complex (has_part enabler + contributes_to R2)
    au = (
        _p(t, V.HAS_PART, "cx", "enabler")
        .join(_p(t, V.CONTRIBUTES_TO, "cx", "r2"), ["model_id", "cx"])
        .select("model_id", "enabler", "r2")
    )
    pair = pair.join(au, ["model_id", "enabler", "r2"], "left_anti")

    adds = [_adds(pair, F.col("r1"), V.DIRECTLY_NEG_REGULATES, F.col("r2"), "B14")]
    return merge_triples(apply_delta(t, adds=adds))
