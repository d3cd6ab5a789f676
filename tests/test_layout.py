"""SemanticNoctuaLayout re-expression (pathways2go_spark/layout.py):
hand-built models exercising the three layout regimes of
SemanticNoctuaLayout.java:107-116 — rooted chains, island-only rows,
and the causal-cycle circle."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pathways2go_spark import vocab as V
from pathways2go_spark.layout import classify, layout

_SCHEMA = ("model_id string, subj string, pred string, obj string, "
           "evidence string, rule string")


def _t(model, s, p, o):
    return (model, s, p, o, "ECO:1", "T")


def _model_triples():
    rows = []
    # model m1: pathway P with chain root r1 -> r2 -> r3, a second root
    # r4 -> r2 (shared child), and an island r5
    for r in ["r1", "r2", "r3", "r4", "r5"]:
        rows.append(_t("m1", r, V.TYPE, V.MOLECULAR_EVENT))
        rows.append(_t("m1", r, V.PART_OF, "P"))
    rows.append(_t("m1", "r1", V.CAUSALLY_UPSTREAM, "r2"))
    rows.append(_t("m1", "r2", V.PROVIDES_INPUT, "r3"))
    rows.append(_t("m1", "r4", V.DIRECTLY_POS_REGULATES, "r2"))
    # model m2: pure 3-cycle c1 -> c2 -> c3 -> c1 plus island c4
    for r in ["c1", "c2", "c3", "c4"]:
        rows.append(_t("m2", r, V.TYPE, V.MOLECULAR_EVENT))
        rows.append(_t("m2", r, V.PART_OF, "P2"))
    rows.append(_t("m2", "c1", V.CAUSALLY_UPSTREAM, "c2"))
    rows.append(_t("m2", "c2", V.CAUSALLY_UPSTREAM, "c3"))
    rows.append(_t("m2", "c3", V.CAUSALLY_UPSTREAM, "c1"))
    # model m3: islands only
    for r in ["i1", "i2"]:
        rows.append(_t("m3", r, V.TYPE, V.MOLECULAR_EVENT))
        rows.append(_t("m3", r, V.PART_OF, "P3"))
    return rows


def test_classify(spark):
    t = spark.createDataFrame(_model_triples(), _SCHEMA)
    cls = {(r["model_id"], r["node"]): r["klass"]
           for r in classify(t).collect()}
    assert cls[("m1", "r1")] == "root"
    assert cls[("m1", "r4")] == "root"
    assert cls[("m1", "r2")] == "member"
    assert cls[("m1", "r3")] == "member"
    assert cls[("m1", "r5")] == "island"
    assert cls[("m2", "c1")] == "member"  # in-degree > 0 around the cycle
    assert cls[("m2", "c4")] == "island"
    assert cls[("m3", "i1")] == "island"


def test_layout_rooted_chain(spark):
    t = spark.createDataFrame(_model_triples(), _SCHEMA)
    pos = {(r["model_id"], r["node"]): (r["klass"], r["x"], r["y"])
           for r in layout(t).collect()}
    # pathway labels top-left (java :60-64)
    assert pos[("m1", "P")] == ("pathway", 20, 20)
    assert pos[("m2", "P2")] == ("pathway", 20, 20)
    # chain x = 250 + 350*depth; row = rank of min reaching root
    # r1 (row 0, depth 0), r2 reached by r1 (min root) at max depth 1,
    # r3 depth 2; r4 is its own chain row 1
    assert pos[("m1", "r1")] == ("root", 250, 20)
    assert pos[("m1", "r2")] == ("member", 250 + 350, 20)
    assert pos[("m1", "r3")] == ("member", 250 + 700, 20)
    assert pos[("m1", "r4")] == ("root", 250, 20 + 500)
    # island placed after the chains' rows
    assert pos[("m1", "r5")] == ("island", 250, 20 + 2 * 500)


def test_layout_circle_and_islands(spark):
    t = spark.createDataFrame(_model_triples(), _SCHEMA)
    pos = {(r["model_id"], r["node"]): (r["klass"], r["x"], r["y"])
           for r in layout(t).collect()}
    # m2: island across the top, members on the 600-radius circle
    assert pos[("m2", "c4")] == ("island", 250, 20)
    step = 2.0 * math.pi / 3
    for i, node in enumerate(["c1", "c2", "c3"]):
        x = int(800.0 + 600.0 * math.cos(i * step))
        y = int(700.0 - 600.0 * math.sin(i * step))
        assert pos[("m2", node)] == ("member", x, y)
    # m3: island-only row, x_spacer 200 (java :110)
    assert pos[("m3", "i1")] == ("island", 250, 20)
    assert pos[("m3", "i2")] == ("island", 450, 20)


def test_layout_covers_every_reaction(spark, default_run):
    """Every molecular event in the golden corpus gets exactly one
    coordinate row."""
    res = default_run
    out = layout(res.triples)
    me = (
        res.triples.filter((F.col("pred") == V.TYPE)
                           & (F.col("obj") == V.MOLECULAR_EVENT))
        .join(
            res.triples.filter(F.col("pred") == V.PART_OF)
            .select("model_id", "subj"),
            ["model_id", "subj"], "left_semi",
        )
        .select("model_id", F.col("subj").alias("node")).distinct()
    )
    missing = me.join(out, ["model_id", "node"], "left_anti")
    assert missing.count() == 0
    dup = out.groupBy("model_id", "node").count().filter("count > 1")
    assert dup.count() == 0
