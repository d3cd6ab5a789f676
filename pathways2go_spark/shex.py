"""ShEx-style shape validation of emitted GO-CAM models.

The reference's release gate runs Minerva's ShEx validator against the
go-cam-shapes schema (`/root/reference/Makefile` `validate:` target:
`minerva-cli --validate-go-cams --shex --shexpath
go-cam-shapes-edited.shex`) and renders the violations with
`scripts/readable_shex_report.py`. Here the same shape constraints are
re-expressed as predicates over one node-flag frame:

  class flags  dims.typed: the type triples with the shared root
               flags (dims.class_flags, broadcast);
  node flags   one row per typed (model_id, node): occurrent,
               BP-typed, chemical-typed, and the list of its non-CC
               types — one groupBy over the type rows;
  edges        the checked predicates in long form, one row per edge
               end (subject and object), joined ONCE to the node flags
               and regrouped by the edge key, which also dedups the
               edges. The seven per-edge checks are boolean predicates
               over that row, exploded into violations; the two max-1
               checks are one groupBy. A class outside the ontology
               carries every flag False, so it is neither occurrent
               nor CC.

Shapes checked (the go-cam-shapes invariants the emitted models rely
on; names follow the readable report's categories):

  enabled_by_max1        an activity has at most ONE enabler
                         (MolecularFunction shape: enabled_by {0,1})
  enabled_by_physical    enabled_by targets an information
                         biomacromolecule / complex / chemical — a
                         physical continuant, never an MF/BP-typed
                         occurrent
  occurs_in_cc           occurs_in targets a node whose every type is
                         in the cellular-component closure
  occurs_in_max1         at most one occurs_in per activity (the B2
                         single-location rule the reference emits)
  part_of_bp             part_of from an occurrent lands on a
                         BP-typed node (pathway / BP individual)
  causal_occurrents      causal-family edges connect two occurrents
                         (MF/BP/molecular_event-typed), never a
                         physical entity
  io_physical            has_input / has_output / has_part targets
                         are physical continuants (not occurrents)
  sm_regulator_chemical  has_small_molecule_{activator,inhibitor}
                         targets carry a chemical-entity type
  interacts_physical     interacts_with connects physical entities

Not applicable here: the "Missing label" category (rdfs:label lives
in the report layer, not the final triple table — kg_model_report
carries the labels) and the UniProt-isoform / REACTO-mismatch
categories (isoforms and REACTO individuals are resolved to classes
during extraction, so the mismatch cannot be represented).

Violations carry a `detail` column with the offending evidence (the
extra enabler set, the non-CC type, ...) — the explanation surface
`readable_shex_report.py` renders for humans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import typed

CAUSAL_PREDS = [
    V.CAUSALLY_UPSTREAM, V.PROVIDES_INPUT,
    V.DIRECTLY_POS_REGULATES, V.DIRECTLY_NEG_REGULATES,
    V.INV_REG, V.INV_POS_REG, V.INV_NEG_REG,
]
IO_PREDS = [V.HAS_INPUT, V.HAS_OUTPUT, V.HAS_PART]

CHECKS = [
    "enabled_by_max1", "enabled_by_physical", "occurs_in_cc",
    "occurs_in_max1", "part_of_bp", "causal_occurrents",
    "io_physical", "sm_regulator_chemical", "interacts_physical",
]

_COLS = ["check", "model_id", "node", "pred", "obj", "detail"]

_SM_PREDS = [V.SM_ACTIVATOR, V.SM_INHIBITOR]
_MAX1_PREDS = [V.ENABLED_BY, V.OCCURS_IN]
_CHECKED_PREDS = [V.PART_OF, V.INTERACTS_WITH, *_MAX1_PREDS, *_SM_PREDS,
                  *CAUSAL_PREDS, *IO_PREDS]
_NOT_PHYSICAL = "target is MF/BP-typed (occurrent), expected physical entity"


def _flag(name: str):
    """A flag column read as False where its left join found no row."""
    return F.coalesce(F.col(name), F.lit(False))


def _node_flags(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """(model_id, node, occ, bp, chem, non_cc) per typed node. `non_cc`
    keeps one entry per type row, duplicates included."""
    return typed(t, ancestors).groupBy("model_id", "node").agg(
        F.max(F.col("mf") | F.col("bp") | (F.col("cls") == V.MOLECULAR_EVENT))
        .alias("occ"),
        F.max("bp").alias("bp"),
        F.max("chem").alias("chem"),
        F.collect_list(F.when(~F.col("cc"), F.col("cls"))).alias("non_cc"),
    )


def _hit(check: str, detail):
    return F.struct(F.lit(check).alias("check"), detail.alias("detail"))


def shex_validate(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """All shape checks unioned: (check, model_id, node, pred, obj,
    detail); empty = every model conforms."""
    edges = t.filter(F.col("pred").isin(_CHECKED_PREDS)).select(
        "model_id", F.col("subj").alias("node"), "pred", "obj"
    )
    # one row per edge end, so the node flags are joined (and
    # aggregated) once for both ends; the regroup dedups the edges
    ends = edges.select("*", F.inline(F.array(
        F.struct(F.lit(True).alias("is_subj"), F.col("node").alias("end")),
        F.struct(F.lit(False).alias("is_subj"), F.col("obj").alias("end")),
    )))
    nf = _node_flags(t, ancestors).withColumnRenamed("node", "end")
    e = ends.join(nf, ["model_id", "end"], "left").groupBy(
        "model_id", "node", "pred", "obj"
    ).agg(
        F.max(F.when(F.col("is_subj"), F.col("occ"))).alias("s_occ"),
        *[F.max(F.when(~F.col("is_subj"), F.col(c))).alias(f"o_{c}")
          for c in ("occ", "bp", "chem")],
        # the object's one non_cc list (an array max would force a
        # sort-based aggregate)
        F.get(F.collect_set(F.when(~F.col("is_subj"), F.col("non_cc"))), 0)
        .alias("o_non_cc"),
    )

    pred = F.col("pred")
    s_occ, o_occ, o_bp, o_chem = map(
        _flag, ("s_occ", "o_occ", "o_bp", "o_chem")
    )
    per_edge = [
        F.when(cond, _hit(check, F.lit(detail)))
        for check, cond, detail in [
            ("enabled_by_physical", (pred == V.ENABLED_BY) & o_occ,
             _NOT_PHYSICAL),
            ("part_of_bp", (pred == V.PART_OF) & ~o_bp,
             "part_of target carries no biological_process type"),
            ("causal_occurrents", pred.isin(CAUSAL_PREDS) & ~s_occ,
             "subject is not an occurrent"),
            ("causal_occurrents", pred.isin(CAUSAL_PREDS) & ~o_occ,
             "object is not an occurrent"),
            ("io_physical", pred.isin(IO_PREDS) & o_occ, _NOT_PHYSICAL),
            ("sm_regulator_chemical", pred.isin(_SM_PREDS) & ~o_chem,
             "regulator carries no chemical-entity type"),
            ("interacts_physical", (pred == V.INTERACTS_WITH) & (s_occ | o_occ),
             "interacts_with endpoint is an occurrent"),
        ]
    ]
    # an occurs_in edge fires once per non-CC type row of its location
    per_loc = F.transform(
        F.coalesce(F.col("o_non_cc"), F.array(F.lit("<untyped>"))),
        lambda c: _hit("occurs_in_cc", F.concat(
            F.lit("location type not under CC root: "), c
        )),
    )
    hits = e.select(
        "model_id", "node", "pred", "obj",
        F.inline(F.filter(
            F.when(pred == V.OCCURS_IN, per_loc).otherwise(F.array(*per_edge)),
            lambda h: h.isNotNull(),
        )),
    )

    enabled_by = pred == V.ENABLED_BY
    max1 = (
        edges.filter(pred.isin(_MAX1_PREDS))
        .groupBy("model_id", "node", "pred")
        .agg(F.array_sort(F.collect_set("obj")).alias("objs"))
        .filter(F.size("objs") > 1)
        .select(
            F.when(enabled_by, "enabled_by_max1").otherwise("occurs_in_max1")
            .alias("check"),
            "model_id", "node", "pred", F.element_at("objs", 1).alias("obj"),
            F.concat(
                F.when(enabled_by, "enablers: ").otherwise("locations: "),
                F.concat_ws(",", "objs"),
            ).alias("detail"),
        )
    )
    return hits.select(*_COLS).unionByName(max1)


def shex_summary(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """(check, n_violations) for every check — all-zeros on a
    conforming corpus, and every check name provably present."""
    spark = t.sparkSession
    names = spark.createDataFrame([(c,) for c in CHECKS], "check string")
    counts = shex_validate(t, ancestors).groupBy("check").agg(
        F.count("*").alias("n_violations")
    )
    return (
        names.join(counts, "check", "left")
        .select(
            "check",
            F.coalesce("n_violations", F.lit(0)).cast("long").alias("n_violations"),
        )
    )
