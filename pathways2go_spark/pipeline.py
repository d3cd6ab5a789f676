"""End-to-end pipeline: documents -> ingest -> stage A -> stage B -> triples.

Mirrors BioPaxtoGO.convert + wrapAndWrite (BioPaxtoGO.java:167-343, :549-639)
but set-at-a-time over all models at once: one distributed DAG instead of a
per-file loop with per-rule model rebuilds.

Input size alone picks the physical path, through two thresholds of
run_pipeline; every path has the same rule semantics:

  span_threshold    a document with at most this many spans takes the
      fused path: span parse + stage A + stage B in ONE mapInPandas over
      documents, zero shuffles (stage_a_local.py). Bigger documents are
      parsed and run through stage A as distributed operators (ingest.py,
      stage_a.py).
  local_threshold   of the models those bigger documents produce, one
      with at most this many stage-A triples runs stage B in ONE shuffle:
      groupBy(model_id).cogroup(drug_reactions).applyInPandas — the
      reference's per-named-graph rule loop (GoCAM.java:974-999), which
      is embarrassingly parallel across models (stage_b_local.py). A
      bigger model runs each rule as global DataFrame self-joins
      (stage_b.py) — ~25 shuffles, but no per-model memory bound.

A threshold of -1 sends everything past it to the distributed side.

Checkpoint discipline: the distributed side checkpoints its span parse
and its stage-A triple set once; the distributed rule chain checkpoints
its per-rule hit sets to cut lineage (the cluster version writes each
stage to a partitioned table via sinks.py for resume)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import vocab as V
from .dims import Dims
from .ingest import element_links as ingest_links, ingest
from .stage_a import extract
from . import stage_a_local as AL
from . import stage_b as B
from . import stage_b_local as BL

_TRIPLE_SCHEMA = (
    "model_id string, subj string, pred string, obj string, "
    "evidence string, rule string"
)

_AUDIT_COLS = ["rule", "model_id", "reaction", "detail"]


@dataclass
class PipelineResult:
    triples: DataFrame          # model_id, subj, pred, obj, evidence, rule
    audit: DataFrame            # rule, model_id, reaction, detail


def _stage_b_distributed(
    t: DataFrame, drugs: DataFrame, dims: Dims
) -> tuple[DataFrame, DataFrame]:
    # AQE stays ON for the chain: measured on the 150k-reaction mega doc
    # (BENCH/BASELINE.md hub-skew corpus) the chain runs 37.5s with AQE vs
    # 64-72s without — partition coalescing collapses the near-empty
    # post-shuffle partitions of the merge/B9 full-table shuffles, and
    # skew-join splitting stays available as the residual-skew defense.
    def ck(df: DataFrame) -> DataFrame:
        # eager materializer for the per-rule HIT tables (small: bounded
        # by rule matches, not corpus size). Materializing each hit set
        # truncates its join-tree lineage to a leaf, so downstream
        # references replay a cached scan, not the joins.
        return df.localCheckpoint(eager=True)

    # Delta-virtual chain: the full triple table is NEVER materialized
    # between rules. Each snapshot t_k is a virtual plan —
    #   base (one eager checkpoint upstream)
    #   + broadcast anti-joins on the materialized delete/hit sets
    #   + unions of the (small, materialized) add sets
    # — so every rule's match job costs one scan of base plus cheap
    # broadcast probes, and the chain pays exactly ONE full-table
    # shuffle: the final merge_triples set-dedupe. No dedupe in between;
    # duplicate keys that accumulate are harmless to the match sets
    # (hit/add/delete sets are distinct()ed) and collapse in the final
    # merge. Ordering is preserved because apply_delta composes
    # anti-joins/unions in rule order (a later node-delete also removes
    # triples added by an earlier rule, as in the reference's in-place
    # model mutation).
    # ONE pred-census job on the materialized input replaces the chain's
    # per-rule emptiness probes (B3's reg.isEmpty, the B6 inv-reg scan) —
    # each probe was a blocking scan of the growing VIRTUAL plan, pure
    # driver-latency on the mega path. Sound because no rule ADDS
    # inverse-regulation predicates (B3 rewrites them to directly_*
    # edges, B10/B6 only delete), so census=0 => every later snapshot
    # has 0; census>0 runs the rules, which match nothing when B10's
    # deletes emptied the domain — same result, no probe. The drugs
    # probe (independent table) rides the same concurrent round.
    census_rows, drugs_empty = B.par(
        lambda: t.groupBy("pred").count().collect(),
        lambda: drugs.isEmpty(),
    )
    census = {r["pred"]: r["count"] for r in census_rows}
    has_reg = (census.get(V.INV_POS_REG, 0) + census.get(V.INV_NEG_REG, 0)) > 0
    # base/adds split (VTriples): the chain tracks the key-unique stage-A
    # base and the small rule add-sets separately so the final merge can
    # be shuffle-free (merge_virtual) — the view() snapshots the rules
    # match against are identical to the plain delta-virtual plan.
    vt = B.VTriples(t)
    # B10 guard: the drug table is a (cheap, materialized) per-reaction
    # key set; when empty the whole neighbor-derivation join is skipped
    if not drugs_empty:
        vt = B.apply_delta_v(vt, **B.b10_delta(vt.view(), drugs, ck=ck))
    # B1+B2+B3 superstep: the three match sets are provably independent of
    # each other's deltas (B1 touches reaction molecular_event types only;
    # B2 reads io/enabler edges + location-node types; B3 reads exact/
    # has_part/part_of/causal/inv-reg edges — no overlap), exactly as in
    # the reference where each SPARQL match runs against its own snapshot
    # before mutation; all three deltas are computed against the same
    # post-B10 snapshot and applied together.
    t1 = vt.view()
    d1, d2, d3 = B.par(
        lambda: B.b1_delta(t1, ck=ck),
        lambda: B.b2_delta(t1, ck=ck),
        lambda: (B.b3_delta(t1, ck=ck) if has_reg
                 else {"adds": [], "deletes": []}),
    )
    vt = B.apply_delta_v(
        vt,
        adds=d1["adds"] + d2["adds"] + d3["adds"],
        deletes=d1["deletes"] + d3["deletes"],
    )
    # mid-chain rebase on BIG inputs only: after the widest delta
    # application the virtual plan carries ~6 broadcast probes, and every
    # later job (B4/B5's five scans, B6, B7/B8, merge) re-collects and
    # re-broadcasts each probe — pure driver latency on the mega path.
    # One localCheckpoint here (NOT a shuffle — a local block write, the
    # same durability class as every ck in this chain) resets the probe
    # stack to a leaf. Below the row threshold the write costs more than
    # the probes it saves, so small inputs keep the pure virtual chain.
    # (VTriples: only the base carries the accumulated probe stack — the
    # adds are already materialized leaves — so the rebase writes the
    # base alone and the key-uniqueness invariant is preserved.)
    mega = sum(census.values()) > 1_000_000
    if mega:
        vt = B.VTriples(ck(vt.base), vt.adds)
    # B4 hot-type salt rides the same size routing: only mega inputs
    # can put enough rows on one (model, reaction, type) key to matter,
    # and only there is the salt-x replication of the small per-reaction
    # type tables worth paying (see b4_b5_delta docstring).
    b4_salt = 16 if mega else None
    # B4/B5 + B6 superstep: B6 matches only inv-reg edges and regulator-
    # node types, which the B4/B5 delta never adds or deletes (it touches
    # causally_upstream / provides_input / directly_regulates edges
    # only), so both deltas are computed against the same post-B3
    # snapshot and applied together — one sequential round saved.
    # INVARIANT (fusion-order safety): apply_delta applies B6's
    # node_deletes before unioning B4/B5's adds, so the fusion is only
    # equivalent to the sequential order if no B4/B5-added edge ever
    # references a B6-deleted node. That holds because the two node-id
    # populations are disjoint BY CONSTRUCTION: B6 deletes regulator
    # nodes only — inv-reg edge subjects, which are entity nodes carrying
    # a '~'-suffixed content key (stage_a emits them as
    # '{ref_id}~{event}') — while B4/B5 adds edges between reaction ids
    # (plain event ids, never '~'-keyed). tests/test_properties.py
    # asserts this disjointness on the golden corpus so a future change
    # to inv-reg edge subjects cannot silently break the superstep.
    t2 = vt.view()
    # B6 guard from the census (see above): no inv-reg edges anywhere in
    # the input -> none in this snapshot either -> skip the delta round
    run_b6 = has_reg
    if run_b6:
        (d45,), (d6, audit) = B.par(
            lambda: (B.b4_b5_delta(t2, dims, ck=ck, salt=b4_salt),),
            lambda: B.b6_delta(t2, dims, ck=ck),
        )
        vt = B.apply_delta_v(
            vt,
            adds=d45["adds"] + d6["adds"],
            deletes=d45["deletes"] + d6["deletes"],
            node_deletes=d6["node_deletes"],
        )
    else:
        audit = t2.sparkSession.createDataFrame(
            [], "rule string, model_id string, reaction string, detail string"
        )
        vt = B.apply_delta_v(vt, **B.b4_b5_delta(t2, dims, ck=ck, salt=b4_salt))
    # B7+B8 superstep: B8's matches (located_in edges / leftover inv-reg
    # preds) are disjoint from B7's complex-node deletions — B8 applied to
    # the pre-B7 snapshot removes at most the location nodes of deleted
    # complexes, which B9's orphan sweep removes identically either way.
    # No ck: each hit set is consumed exactly once (the broadcast build
    # of the merge job's anti-join), so materializing it would only add
    # a barrier.
    t3 = vt.view()
    d7, d8 = B.b7_delta(t3), B.b8_delta(t3)
    vt = B.apply_delta_v(
        vt, node_deletes=d7["node_deletes"] + d8["node_deletes"],
    ).filter_each(B.b8_pred_filter)
    # set-dedupe BEFORE B9 — materialized once for B9/B11: B9 only
    # deletes (key-set semantics unchanged by dedupe), so merging here
    # keeps B9/B11 on the deduped table and the B9 output needs no
    # further merge. B9 still runs before the B11 gate, as in the
    # reference (gate at write time).
    # merge_virtual (r4) replaces merge_triples here: the base/adds split
    # means the fact table never enters a hash exchange — only add-set
    # keys (rule-match bounded) are grouped; the base flows to the ck
    # write through broadcast probes. (Folding B9 itself into the merge
    # was tried and reverted in early r4 — it references the whole
    # delta-chain tree three times and blew up Catalyst on deep chains.
    # The base/adds split avoids that: the multiply-referenced node is
    # the checkpointed base leaf, not the chain tree.)
    # no outer ck: merge_virtual materializes the single base scan
    # internally; the returned plan is a leaf scan + a small anti-join,
    # cheap for B9/B11 to re-reference.
    t = B.merge_virtual(vt, ck=ck)
    t = B.b9_clean_unconnected(t)
    t = B.b11_model_gate(t, dims)
    return t, audit


def _split_audit(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The Python passes emit audit rows in-band (pred == AUDIT_PRED);
    split them from the triples."""
    triples = out.filter(F.col("pred") != BL.AUDIT_PRED)
    audit = out.filter(F.col("pred") == BL.AUDIT_PRED).select(
        F.col("rule"),
        "model_id",
        F.col("subj").alias("reaction"),
        F.col("obj").alias("detail"),
    )
    return triples, audit


def _stage_b_local(
    t: DataFrame, drugs: DataFrame, prepared: PreparedDims
) -> DataFrame:
    """Per-model Python rules over the stage-A triples; triples and
    in-band audit rows (see _split_audit)."""
    bc = prepared.bc

    def run(left, right):
        if len(left) == 0:
            return left.iloc[0:0]
        # bc.value unpickles once per worker process (broadcast
        # registry cache), not per task — see PreparedDims
        return BL.apply_rules_local(left, set(right["reaction"]), bc.value[1])

    return (
        t.groupBy("model_id")
        .cogroup(drugs.groupBy("model_id"))
        .applyInPandas(run, schema=_TRIPLE_SCHEMA)
    )


class PreparedDims(NamedTuple):
    """Driver-built dictionary views + their one-time Spark broadcast.

    The broadcast is load-bearing for scale-out: the dictionaries pickle
    to several MB, and a UDF closure that captures them directly is
    re-shipped and re-unpickled for EVERY task (measured 7.2 MB /
    0.22 s per task on the bench corpus — at fine input splits that
    serial tax dominates the 32-core wall). Captured as a Broadcast
    handle instead, the payload moves once per executor and unpickles
    once per reused Python worker process."""

    a_dims: object   # stage_a_local.StageADims
    b_dims: object   # stage_b_local.LocalDims
    bc: object       # pyspark Broadcast of (a_dims, b_dims)


def prepare_local_dims(dims: Dims) -> PreparedDims:
    """One-time driver-side build of the plain-python dictionary views the
    fused path ships to workers (the §1.5 bounded ontology dictionaries —
    in production this cost is fixed by ontology size, not corpus size).
    Pass the result to run_pipeline(prepared=...) to amortize it across
    repeated runs in one session (bench / streaming micro-batches)."""
    a_dims = AL.build_stage_a_dims(dims)
    b_dims = BL.build_local_dims(
        dims.onto_ancestors.toPandas(), dims.complex_parts.toPandas()
    )
    sc = dims.onto_ancestors.sparkSession.sparkContext
    return PreparedDims(a_dims, b_dims, sc.broadcast((a_dims, b_dims)))


def _fused(documents: DataFrame, prepared: PreparedDims) -> DataFrame:
    """Zero-shuffle path: span parse + stage A + stage B fused into one
    mapInPandas over documents (stage_a_local.py); triples and in-band
    audit rows (see _split_audit)."""
    # project the two struct fields the parser consumes BEFORE the UDF:
    # nested-schema pruning then drops media_ref/offset at the parquet
    # scan (ReadSchema: spans:array<struct<kind,text>>) and the Arrow
    # transfer ships two flat string lists per doc instead of 4-field
    # span structs — measured ~30% less input-path cost at 32 cores.
    # Close over the Broadcast handle only — see PreparedDims.
    flat = documents.select(
        "doc_id",
        F.col("spans.kind").alias("kinds"),
        F.col("spans.text").alias("texts"),
    )
    return flat.mapInPandas(
        AL.fused_pipeline_udf(prepared.bc), schema=_TRIPLE_SCHEMA
    )


def _distributed(
    spark: SparkSession, documents: DataFrame, dims: Dims,
    local_threshold: int, prepared: PreparedDims,
) -> PipelineResult:
    """Distributed span parse + stage A, then stage B per model: the
    Python rules up to `local_threshold` stage-A triples, the DataFrame
    rule chain above it."""
    # spread span parsing across the cluster — the docs here are
    # mega-documents (few rows, huge span arrays), so file splits give
    # no parallelism and the parse must be repartitioned explicitly
    elements, _ = ingest(documents, repartition=spark.sparkContext.defaultParallelism)
    # materialize the span parse ONCE — every stage-A loop iteration and
    # eager checkpoint otherwise re-runs the whole ingest lineage.
    # links is RE-DERIVED from the checkpointed elements (ingest's
    # links plan would otherwise replay the whole chunked span parse
    # a second time just to explode the link columns)
    elements = elements.localCheckpoint(eager=True)
    links = ingest_links(elements).localCheckpoint(eager=True)
    # NOTE: extract()'s dedupe shuffle is load-bearing for the rule
    # chain, not just set semantics: a raw multiset duplicates the shared-
    # molecule node triples once per referencing reaction, and any rule
    # joining the fact table against itself through those keys (B5's
    # exactMatch join) multiplies match rows by the duplication factor —
    # measured as a hang on the 150k-reaction mega doc.
    sa = extract(elements, links, dims)

    # NOTE: no repartition("model_id") here — a mega model would collapse
    # into a single partition (the skew we are defending against). The
    # local path's cogroup shuffles by model_id itself; the distributed
    # rules shuffle on their own wider (model_id, node/type) keys.
    # Materialize stage A once: every stage-B rule references the
    # triple table several times, and an unmaterialized ~25-join
    # stage-A plan re-analyzed per reference explodes the driver.
    # t and drugs are independent -> one concurrent checkpoint round.
    t, drugs = B.par(
        lambda: sa.triples.localCheckpoint(eager=True),
        lambda: sa.drug_reactions.localCheckpoint(eager=True),
    )

    # route mega-models (per-model stage-A triple count above the
    # threshold) through the distributed rules — the skew defense — and
    # everything else through the one-shuffle local path. The count is
    # over the DEDUPED stage-A set (extract() always dedupes — see the
    # NOTE above), so the threshold is calibrated against distinct
    # triples per model, not the raw multiset.
    big = (
        t.groupBy("model_id")
        .count()
        .filter(F.col("count") > local_threshold)
        .select("model_id")
        .localCheckpoint(eager=True)
    )
    if big.isEmpty():
        tt, audit = _split_audit(_stage_b_local(t, drugs, prepared))
        return PipelineResult(triples=tt, audit=audit)

    t_small = t.join(big, "model_id", "left_anti")
    t_big = t.join(big, "model_id", "left_semi")
    d_small = drugs.join(big, "model_id", "left_anti")
    d_big = drugs.join(big, "model_id", "left_semi")
    # Python cogroup pass first + materialized, JVM rule chain second —
    # the same ordering rule as in run_pipeline
    ts, audit_s = _split_audit(
        _stage_b_local(t_small, d_small, prepared).localCheckpoint(eager=True)
    )
    tb, audit_b = _stage_b_distributed(t_big, d_big, dims)
    return PipelineResult(
        triples=ts.unionByName(tb),
        audit=audit_s.unionByName(audit_b.select(*_AUDIT_COLS)),
    )


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    dims: Dims,
    span_threshold: int = 500_000,
    local_threshold: int = 500_000,
    prepared: PreparedDims | None = None,
) -> PipelineResult:
    """GO-CAM triples and rule audit rows of `documents`.

    Routing is by span_threshold and local_threshold alone (see the
    module docstring): documents with more than `span_threshold` spans
    run stage A distributed, and of their models those with more than
    `local_threshold` stage-A triples run the distributed rule chain;
    everything else takes the fused per-document path. Pass `prepared`
    (prepare_local_dims) to reuse the dictionary broadcast across runs
    in one session."""
    if prepared is None:
        prepared = prepare_local_dims(dims)
    # route on size(spans.kind), not size(spans): the span COUNT is
    # derivable from any single struct field, and extracting just
    # `kind` lets nested-schema pruning narrow the routing scan to
    # spans:array<struct<kind:string>> — the text field is the bulk
    # of the corpus bytes, so the routing probe reads a small
    # fraction of the table instead of all of it. (The predicate
    # still can't push down to row-group stats — array lengths
    # aren't in parquet statistics — so the probe is a scan either
    # way; this makes it a cheap one.)
    n_spans = F.size(F.col("spans.kind"))
    small = documents.filter(n_spans <= span_threshold)
    big = documents.filter(n_spans > span_threshold)
    if big.isEmpty():
        # common case (no mega docs): ONE kind-pruned probe scan and
        # no checkpoint write — the big-doc slice is only
        # materialized when it exists (below), so the no-skew corpus
        # pays no routing materialization job per run.
        ts, audit_s = _split_audit(_fused(small, prepared))
        return PipelineResult(triples=ts, audit=audit_s)
    # mega docs present: materialize the routed big-doc slice ONCE —
    # without this every job of the distributed branch (span-parse
    # checkpoint, rule probes) re-scans the WHOLE corpus' spans
    # column just to find the few mega docs. Big docs are few by
    # definition of the threshold, so the checkpoint is small.
    big = big.localCheckpoint(eager=True)

    # ...and run the fused Python pass CONCURRENTLY with the distributed
    # side on driver threads, materialized eagerly. Measured on a shared
    # host, a Python (Arrow-duplex) stage scheduled AFTER the rule
    # chain's burst of small eager JVM jobs runs 5-10x slower than the
    # identical stage before it (task threads blocked in the Arrow
    # socket ping-pong; a second run recovers). Started at t=0, the
    # Python pass is never scheduled after that burst, the two passes
    # share the executor, and the wall time is max(fused, distributed)
    # instead of their sum.
    (ts, audit_s), rb = B.par(
        lambda: _split_audit(_fused(small, prepared).localCheckpoint(eager=True)),
        lambda: _distributed(spark, big, dims, local_threshold, prepared),
    )
    return PipelineResult(
        triples=ts.unionByName(rb.triples),
        audit=audit_s.unionByName(rb.audit.select(*_AUDIT_COLS)),
    )


def precision_recall(actual: DataFrame, expected: DataFrame) -> dict[str, float]:
    """Set P/R on (model_id, subj, pred, obj) — the driver's headline metric
    (BASELINE.json: P/R >= 0.95 vs the reference regression set)."""
    key = ["model_id", "subj", "pred", "obj"]
    a = actual.select(*key).distinct().cache()
    e = expected.select(*key).distinct().cache()
    n_a, n_e = a.count(), e.count()
    tp = a.join(e, key, "inner").count()
    return {
        "precision": tp / n_a if n_a else 1.0,
        "recall": tp / n_e if n_e else 1.0,
        "actual": float(n_a),
        "expected": float(n_e),
        "tp": float(tp),
    }


def diff_vs_expected(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """(side, model_id, subj, pred, obj): 'spurious' rows only in actual,
    'missing' rows only in expected — the debugging view."""
    key = ["model_id", "subj", "pred", "obj"]
    a = actual.select(*key).distinct()
    e = expected.select(*key).distinct()
    return (
        a.join(e, key, "left_anti").withColumn("side", F.lit("spurious"))
        .unionByName(e.join(a, key, "left_anti").withColumn("side", F.lit("missing")))
        .select("side", *key)
    )
