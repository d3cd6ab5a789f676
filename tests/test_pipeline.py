"""End-to-end KG pipeline tests: golden-triple P/R (the reference's test
strategy, BioPaxtoGOTest.java), targeted per-rule assertions, audit rows,
determinism, and equal output on every physical path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pathways2go_spark import vocab as V
from pathways2go_spark.dims import load_dims
from pathways2go_spark.pipeline import (
    diff_vs_expected,
    precision_recall,
    run_pipeline,
)
from tests.conftest import FIXTURE_DIR, assert_routing_cases


@pytest.fixture(scope="module")
def result(default_run):
    return default_run


@pytest.fixture(scope="module")
def expected(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["expected_triples"])


def test_golden_pr(result, expected):
    pr = precision_recall(result.triples, expected)
    if pr["precision"] < 1.0 or pr["recall"] < 1.0:
        diff_vs_expected(result.triples, expected).orderBy(
            "model_id", "side", "subj"
        ).show(100, False)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def _has(result, m, s, p, o):
    return (
        result.triples.filter(
            (F.col("model_id") == m) & (F.col("subj") == s)
            & (F.col("pred") == p) & (F.col("obj") == o)
        ).count() == 1
    )


def test_provides_input_and_shared_instance(result):
    # testInferProvidesInput / testSharedIntermediateInputs analogues
    assert _has(result, "T1x00000", "T1x00000-R2", V.PROVIDES_INPUT, "T1x00000-R3")
    # shared small-molecule node: R1 output IS R2 input, upstream edge gone
    assert _has(result, "T1x00000", "T1x00000-R1", V.HAS_OUTPUT, "CHEBI_90001~cytosol")
    assert _has(result, "T1x00000", "T1x00000-R2", V.HAS_INPUT, "CHEBI_90001~cytosol")
    assert result.triples.filter(
        (F.col("model_id") == "T1x00000") & (F.col("pred") == V.CAUSALLY_UPSTREAM)
        & (F.col("subj") == "T1x00000-R1")
    ).count() == 0


def test_occurs_in_from_enabler(result):
    # testOccursInFromEnablerLocation analogue
    assert _has(result, "T2x00000", "T2x00000-R1", V.OCCURS_IN,
                "T2x00000-R1~oc~GO_0005654")
    assert result.triples.filter(
        (F.col("model_id") == "T2x00000") & (F.col("pred") == V.OCCURS_IN)
        & (F.col("subj") == "T2x00000-R2")
    ).count() == 0


def test_regulation_rule_1_binding(result):
    # testInferRegulatesViaOutputRegulates analogue
    b = "T3x00000-R1~bind~T3x00000-C1~T3x00000-R2~ctl"
    assert _has(result, "T3x00000", "T3x00000-R1", V.PROVIDES_INPUT, b)
    assert _has(result, "T3x00000", b, V.DIRECTLY_POS_REGULATES, "T3x00000-R2")
    assert _has(result, "T3x00000", b, V.TYPE, V.BINDING)


def test_regulation_rule_3(result):
    # testInferRegulatesViaOutputEnables: case 1 + case 2 (tbox complex part)
    assert _has(result, "T4x00000", "T4x00000-R1", V.DIRECTLY_POS_REGULATES, "T4x00000-R2")
    assert _has(result, "T4x00000", "T4x00000-R3", V.DIRECTLY_POS_REGULATES, "T4x00000-R4")


def test_small_molecule_regulators_exactly_four(result):
    # testInferSmallMoleculeRegulators: exactly 4 RO_0012001/RO_0012002
    n = result.triples.filter(
        (F.col("model_id") == "T6x00000")
        & F.col("pred").isin(V.SM_ACTIVATOR, V.SM_INHIBITOR)
    ).count()
    assert n == 4
    # the protein regulator node was fully deleted
    assert result.triples.filter(
        (F.col("model_id") == "T6x00000")
        & (F.col("subj").contains("~ctl")) & (F.col("obj") == "UniProtKB_U-T6x00000-5")
    ).count() == 0


def test_audit_rows(result, spark, fixture_paths):
    exp = spark.read.parquet(fixture_paths["expected_audit"])
    got = result.audit.select("rule", "model_id", "reaction", "detail")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_disease_and_drug_removal(result):
    assert result.triples.filter(F.col("model_id") == "T7x00000a").count() == 0
    r2 = result.triples.filter(
        (F.col("model_id") == "T7x00000b")
        & ((F.col("subj") == "T7x00000b-R2") | (F.col("obj") == "T7x00000b-R2"))
    )
    assert r2.count() == 0
    assert _has(result, "T7x00000b", "T7x00000b-R1", V.PART_OF, "T7x00000b-P")


def test_empty_model_gate(result):
    assert result.triples.filter(F.col("model_id") == "T12x00000a").count() == 0


def test_no_located_in_survives(result):
    assert result.triples.filter(
        F.col("pred").isin(V.LOCATED_IN, V.INV_REG, V.INV_POS_REG, V.INV_NEG_REG)
    ).count() == 0


def test_determinism(spark, documents, expected):
    dims = load_dims(spark, FIXTURE_DIR)
    again = run_pipeline(spark, documents, dims)
    pr = precision_recall(again.triples, expected)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0


def test_physical_path_equivalence(spark, documents, result, expected):
    """The fully distributed path and the hybrid (distributed stage A +
    per-model Python stage B) give the default fused run's triple and
    audit sets, and that run has P/R 1.0."""
    pr = precision_recall(result.triples, expected)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr
    everything = 10**9
    assert_routing_cases(spark, documents, result, [
        (-1, everything),       # hybrid
        (-1, -1),               # fully distributed
    ])


def test_auto_routing_splits_big_models(spark, documents, result, expected):
    """Tiny thresholds route the big docs and models through the
    distributed paths, so all three paths run in one job — output must be
    unchanged."""
    assert_routing_cases(spark, documents, result, [(3, 5)])
    pr = precision_recall(result.triples, expected)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_local_rules_keep_min_rule_per_key():
    """apply_rules_rows is the fused path's stage-A dedup: rows repeating
    a (s, p, o) key under different rule tags come out as one row per
    key carrying the minimum rule (string order, as stage_a's groupBy)."""
    from pathways2go_spark.stage_b_local import LocalDims, apply_rules_rows

    dims = LocalDims(frozenset(), frozenset(), frozenset(), {})
    rx, node = ("r1", V.TYPE, V.MOLECULAR_EVENT), ("r1", V.HAS_INPUT, "m~r1")
    ty = ("m~r1", V.TYPE, "CHEBI_1")
    tagged = [(rx, "A9"), (node, "A18"), (ty, "A18"), (rx, "A4"),
              (node, "A16"), (ty, "A15"), (node, "A17"), (ty, "A9")]
    out = apply_rules_rows(
        "m", ((*k, V.ECO_IMPORTED, r) for k, r in tagged), set(), dims
    )
    assert sorted(out) == sorted([
        ("m", *rx, V.ECO_IMPORTED, "A4"),
        ("m", *node, V.ECO_IMPORTED, "A16"),
        ("m", *ty, V.ECO_IMPORTED, "A15"),
    ])
