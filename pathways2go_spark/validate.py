"""R2 — structural validation suite over the emitted triple corpus.

The reference validates each model with an OWL reasoner consistency
check (`GoCAM.validateGoCAM` GoCAM.java:1913-1930; owl:Nothing probe via
consistency_check.rq) and, on failure, renders an axiom-level
EXPLANATION of the inconsistency (`BioPaxtoGO.java:605-676`
`renderExplanation` — the supporting axiom set, printed per violation).
Without a reasoner, the consumed guarantees reduce to structural
invariants over the flat triple table — each check returns a DataFrame
of violations (empty = valid), so the whole suite is one union of
anti-joins that Catalyst executes in a single pass per check.

Every violation row carries a `detail` column — the derivation that
produced the violating assertion (the offending edge, the emitting
rule from the triples' `rule` provenance column, the clashing class
pair) — the same explanation surface renderExplanation provides, in
tabular form. Inputs without a `rule` column (the bare 4-column
snapshot) degrade to rule='?' rather than failing.

Checks:
  dangling_edges       every edge endpoint must be a typed node
                       (abox individuals always carry rdf:type in the
                       reference's write model, GoCAM.java:751-790)
  unknown_predicates   every pred must belong to the declared RO/BFO
                       vocabulary (GoCAM.java:335-387) + pseudo preds
  mf_bp_disjoint       no node typed in both the MF and BP closures
                       (GO disjointness the reasoner would flag)
  orphan_evidence      evidence annotations must reference existing
                       rows (evidence column non-null on every triple)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import typed

_KNOWN_PREDS = set(V.EDGE_PREDS) | {V.TYPE, V.EXACT, V.LABEL}

_COLS = ["check", "model_id", "node", "pred", "detail"]


def _with_rule(t: DataFrame) -> DataFrame:
    if "rule" not in t.columns:
        t = t.withColumn("rule", F.lit(None).cast("string"))
    return t.withColumn("rule", F.coalesce(F.col("rule"), F.lit("?")))


def _edges(t: DataFrame) -> DataFrame:
    return t.filter(F.col("pred").isin(V.EDGE_PREDS))


def dangling_edges(t: DataFrame) -> DataFrame:
    """Edge endpoints with no rdf:type row in the same model. Detail:
    the untyped end plus the full edge and its emitting rule — the
    assertion set a reasoner explanation would print."""
    t = _with_rule(t)
    typed = t.filter(F.col("pred") == V.TYPE).select(
        "model_id", F.col("subj").alias("node")
    ).distinct()
    e = _edges(t)
    ends = (
        e.select("model_id", F.col("subj").alias("node"), "pred",
                 "subj", "obj", "rule", F.lit("subject").alias("end"))
        .unionByName(
            e.select("model_id", F.col("obj").alias("node"), "pred",
                     "subj", "obj", "rule", F.lit("object").alias("end"))
        )
    )
    return (
        ends.join(typed, ["model_id", "node"], "left_anti")
        .groupBy("model_id", "node", "pred")
        .agg(F.min(F.concat(
            F.lit("untyped "), F.col("end"), F.lit(" of edge "),
            F.col("subj"), F.lit(" -"), F.col("pred"), F.lit("-> "),
            F.col("obj"), F.lit(" emitted by rule "), F.col("rule"),
        )).alias("detail"))
        .withColumn("check", F.lit("dangling_edge_endpoint"))
    )


def unknown_predicates(t: DataFrame) -> DataFrame:
    t = _with_rule(t)
    return (
        t.filter(~F.col("pred").isin(sorted(_KNOWN_PREDS)))
        .groupBy("model_id", F.col("subj").alias("node"), "pred")
        .agg(F.min(F.concat(
            F.lit("pred outside the declared RO/BFO vocabulary; edge "),
            F.col("subj"), F.lit(" -> "), F.col("obj"),
            F.lit(" emitted by rule "), F.col("rule"),
        )).alias("detail"))
        .withColumn("check", F.lit("unknown_predicate"))
    )


def mf_bp_overlap(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Nodes typed in both the MF and BP closures — the disjointness the
    reference's reasoner consistency check would surface. Detail names
    the clashing class pair and the rules that asserted each type."""
    def evidence(flag: str):
        return F.min(F.when(F.col(flag), F.concat(
            F.col("cls"), F.lit(" (by rule "), F.col("rule"), F.lit(")")
        )))

    return (
        typed(_with_rule(t), ancestors, "rule")
        .groupBy("model_id", "node")
        .agg(evidence("mf").alias("mf_ev"), evidence("bp").alias("bp_ev"))
        .filter(F.col("mf_ev").isNotNull() & F.col("bp_ev").isNotNull())
        .withColumn("pred", F.lit(V.TYPE))
        .withColumn("detail", F.concat(
            F.lit("typed in disjoint closures: MF via "), F.col("mf_ev"),
            F.lit(", BP via "), F.col("bp_ev"),
        ))
        .withColumn("check", F.lit("mf_bp_overlap"))
    )


def missing_evidence(t: DataFrame) -> DataFrame:
    t = _with_rule(t)
    return (
        _edges(t).filter(F.col("evidence").isNull() | (F.col("evidence") == ""))
        .groupBy("model_id", F.col("subj").alias("node"), "pred")
        .agg(F.min(F.concat(
            F.lit("edge "), F.col("subj"), F.lit(" -> "), F.col("obj"),
            F.lit(" from rule "), F.col("rule"),
            F.lit(" carries no ECO evidence annotation"),
        )).alias("detail"))
        .withColumn("check", F.lit("missing_evidence"))
    )


def validate(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """All checks unioned: (check, model_id, node, pred, detail);
    empty = valid."""
    frames = [
        dangling_edges(t),
        unknown_predicates(t),
        mf_bp_overlap(t, ancestors),
        missing_evidence(t),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out.select(*_COLS)
