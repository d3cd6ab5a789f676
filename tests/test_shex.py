"""ShEx shape-validation tests: the golden corpus conforms (all-zero
summary), and each check fires on a seeded violation — the positive
control the reference gets from Minerva's violation reports
(scripts/readable_shex_report.py categories)."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pathways2go_spark import shex
from pathways2go_spark import vocab as V
from pathways2go_spark.dims import load_dims
from tests.conftest import FIXTURE_DIR


@pytest.fixture(scope="module")
def dims(spark):
    return load_dims(spark, FIXTURE_DIR)


@pytest.fixture(scope="module")
def triples(default_run):
    return default_run.triples.select("model_id", "subj", "pred", "obj")


def test_golden_corpus_conforms(triples, dims):
    assert shex.shex_validate(triples, dims.onto_ancestors).count() == 0
    rows = shex.shex_summary(triples, dims.onto_ancestors).collect()
    assert {r["check"] for r in rows} == set(shex.CHECKS)
    assert all(r["n_violations"] == 0 for r in rows)


def _with(spark, triples, extra):
    add = spark.createDataFrame(extra, ["model_id", "subj", "pred", "obj"])
    return triples.unionByName(add)


def _checks_fired(spark, triples, dims, extra):
    v = shex.shex_validate(_with(spark, triples, extra), dims.onto_ancestors)
    return {r["check"] for r in v.collect()}


def test_seeded_double_enabler(spark, triples, dims):
    """Two enablers on one reaction -> enabled_by_max1, with the full
    enabler set in the explanation detail."""
    r = triples.filter(F.col("pred") == V.ENABLED_BY).first()
    extra = [(r["model_id"], r["subj"], V.ENABLED_BY, "seeded~extra~ctl"),
             (r["model_id"], "seeded~extra~ctl", V.TYPE, "UniProtKB_U-seed")]
    t2 = _with(spark, triples, extra)
    v = shex.shex_validate(t2, dims.onto_ancestors)
    hit = v.filter(F.col("check") == "enabled_by_max1").collect()
    assert len(hit) == 1
    assert hit[0]["node"] == r["subj"]
    assert "seeded~extra~ctl" in hit[0]["detail"]
    assert r["obj"] in hit[0]["detail"]


def test_seeded_occurrent_enabler(spark, triples, dims):
    """An MF-typed node as enabler -> enabled_by_physical."""
    r = triples.filter(F.col("pred") == V.ENABLED_BY).first()
    extra = [
        (r["model_id"], "seeded_act", V.TYPE, V.MF_ROOT),
        (r["model_id"], "seeded_rxn", V.TYPE, V.MOLECULAR_EVENT),
        (r["model_id"], "seeded_rxn", V.ENABLED_BY, "seeded_act"),
    ]
    fired = _checks_fired(spark, triples, dims, extra)
    assert "enabled_by_physical" in fired


def test_seeded_bad_location(spark, triples, dims):
    """occurs_in to an MF-typed (non-CC) node -> occurs_in_cc; a second
    occurs_in on the same reaction -> occurs_in_max1."""
    r = triples.filter(F.col("pred") == V.OCCURS_IN).first()
    extra = [
        (r["model_id"], r["subj"], V.OCCURS_IN, "seeded_loc"),
        (r["model_id"], "seeded_loc", V.TYPE, V.MF_ROOT),
    ]
    fired = _checks_fired(spark, triples, dims, extra)
    assert "occurs_in_cc" in fired and "occurs_in_max1" in fired


def test_seeded_untyped_location(spark, triples, dims):
    extra = [("seedm", "seeded_rxn", V.OCCURS_IN, "seeded_untyped_loc")]
    v = shex.shex_validate(_with(spark, triples, extra), dims.onto_ancestors)
    hit = v.filter(
        (F.col("check") == "occurs_in_cc") & (F.col("obj") == "seeded_untyped_loc")
    ).collect()
    assert len(hit) == 1 and "<untyped>" in hit[0]["detail"]


def test_seeded_part_of_physical(spark, triples, dims):
    """part_of to a protein-typed node -> part_of_bp."""
    r = triples.filter(F.col("pred") == V.TYPE).filter(
        F.col("obj").startswith("UniProtKB_")
    ).first()
    extra = [(r["model_id"], "seeded_rxn", V.PART_OF, r["subj"])]
    fired = _checks_fired(spark, triples, dims, extra)
    assert "part_of_bp" in fired


def test_seeded_causal_to_entity(spark, triples, dims):
    """causally_upstream_of to a physical entity -> causal_occurrents
    (object end), with the end named in the detail."""
    ent = triples.filter(F.col("pred") == V.TYPE).filter(
        F.col("obj").startswith("UniProtKB_")
    ).first()
    rxn = triples.filter(F.col("pred") == V.CAUSALLY_UPSTREAM).first()
    extra = [(ent["model_id"], rxn["subj"] if rxn["model_id"] == ent["model_id"]
              else "seeded_rxn", V.CAUSALLY_UPSTREAM, ent["subj"])]
    if extra[0][1] == "seeded_rxn":
        extra.append((ent["model_id"], "seeded_rxn", V.TYPE, V.MOLECULAR_EVENT))
    v = shex.shex_validate(_with(spark, triples, extra), dims.onto_ancestors)
    hit = v.filter(
        (F.col("check") == "causal_occurrents") & (F.col("obj") == ent["subj"])
    ).collect()
    assert hit and "object is not an occurrent" in hit[0]["detail"]


def test_seeded_io_occurrent_and_sm_regulator(spark, triples, dims):
    """has_output to a BP-typed node -> io_physical; a small-molecule
    activator without a chemical type -> sm_regulator_chemical."""
    m = triples.first()["model_id"]
    extra = [
        (m, "seeded_rxn", V.TYPE, V.MOLECULAR_EVENT),
        (m, "seeded_bp", V.TYPE, V.BP_ROOT),
        (m, "seeded_rxn", V.HAS_OUTPUT, "seeded_bp"),
        (m, "seeded_prot", V.TYPE, "UniProtKB_U-seed"),
        (m, "seeded_rxn", V.SM_ACTIVATOR, "seeded_prot"),
        (m, "seeded_rxn2", V.TYPE, V.MOLECULAR_EVENT),
        (m, "seeded_rxn2", V.INTERACTS_WITH, "seeded_prot"),
    ]
    fired = _checks_fired(spark, triples, dims, extra)
    assert {"io_physical", "sm_regulator_chemical",
            "interacts_physical"} <= fired


def test_seeded_violation_rows_exact(spark, triples, dims):
    """One seeded model fires all nine checks; the exact multiset of
    violation rows pins multiplicity and detail text, not just which
    checks fired. Seeds include a location typed twice with the same
    non-CC class (two rows), a type outside the ontology, an untyped
    location, a causal edge bad at both ends, an interacts_with edge
    with both ends occurrent (one row) and duplicated edges (one row)."""
    m = "seedm"
    ty = [
        ("rxn1", V.MOLECULAR_EVENT), ("rxn2", V.MF_ROOT), ("bp1", V.BP_ROOT),
        ("prot1", "UniProtKB_U-seed"), ("chem1", "CHEBI_15377"),
        ("loc_mf", V.MF_ROOT), ("loc_mf", V.MF_ROOT),
        ("loc_foreign", "FOREIGN_seed"), ("loc_cc", V.CC_ROOT),
        ("loc_mixed", V.CC_ROOT), ("loc_mixed", "CHEBI_15377"),
    ]
    edges = [
        ("rxn1", V.ENABLED_BY, "prot1"), ("rxn1", V.ENABLED_BY, "prot1"),
        ("rxn1", V.ENABLED_BY, "chem1"),
        ("rxn2", V.ENABLED_BY, "rxn1"),
        ("rxn1", V.OCCURS_IN, "loc_mf"), ("rxn1", V.OCCURS_IN, "loc_foreign"),
        ("rxn2", V.OCCURS_IN, "loc_untyped"), ("bp1", V.OCCURS_IN, "loc_cc"),
        ("chem1", V.OCCURS_IN, "loc_mixed"),
        ("rxn1", V.PART_OF, "prot1"), ("rxn1", V.PART_OF, "prot1"),
        ("rxn2", V.PART_OF, "bp1"),
        ("prot1", V.CAUSALLY_UPSTREAM, "chem1"),
        ("prot1", V.CAUSALLY_UPSTREAM, "chem1"),
        ("rxn1", V.CAUSALLY_UPSTREAM, "rxn2"),
        ("rxn1", V.HAS_OUTPUT, "bp1"), ("rxn1", V.HAS_INPUT, "chem1"),
        ("rxn2", V.SM_ACTIVATOR, "prot1"), ("rxn2", V.SM_INHIBITOR, "chem1"),
        ("rxn1", V.INTERACTS_WITH, "rxn2"), ("prot1", V.INTERACTS_WITH, "rxn1"),
        ("prot1", V.INTERACTS_WITH, "chem1"),
    ]
    extra = [(m, n, V.TYPE, c) for n, c in ty] + [(m, *e) for e in edges]
    v = shex.shex_validate(_with(spark, triples, extra), dims.onto_ancestors)
    occurrent = "target is MF/BP-typed (occurrent), expected physical entity"
    not_cc = "location type not under CC root: "
    endpoint = "interacts_with endpoint is an occurrent"
    want = Counter([
        ("enabled_by_max1", m, "rxn1", V.ENABLED_BY, "chem1",
         "enablers: chem1,prot1"),
        ("enabled_by_physical", m, "rxn2", V.ENABLED_BY, "rxn1", occurrent),
        ("occurs_in_cc", m, "rxn1", V.OCCURS_IN, "loc_mf", not_cc + V.MF_ROOT),
        ("occurs_in_cc", m, "rxn1", V.OCCURS_IN, "loc_mf", not_cc + V.MF_ROOT),
        ("occurs_in_cc", m, "rxn1", V.OCCURS_IN, "loc_foreign",
         not_cc + "FOREIGN_seed"),
        ("occurs_in_cc", m, "rxn2", V.OCCURS_IN, "loc_untyped",
         not_cc + "<untyped>"),
        ("occurs_in_cc", m, "chem1", V.OCCURS_IN, "loc_mixed",
         not_cc + "CHEBI_15377"),
        ("occurs_in_max1", m, "rxn1", V.OCCURS_IN, "loc_foreign",
         "locations: loc_foreign,loc_mf"),
        ("part_of_bp", m, "rxn1", V.PART_OF, "prot1",
         "part_of target carries no biological_process type"),
        ("causal_occurrents", m, "prot1", V.CAUSALLY_UPSTREAM, "chem1",
         "subject is not an occurrent"),
        ("causal_occurrents", m, "prot1", V.CAUSALLY_UPSTREAM, "chem1",
         "object is not an occurrent"),
        ("io_physical", m, "rxn1", V.HAS_OUTPUT, "bp1", occurrent),
        ("sm_regulator_chemical", m, "rxn2", V.SM_ACTIVATOR, "prot1",
         "regulator carries no chemical-entity type"),
        ("interacts_physical", m, "rxn1", V.INTERACTS_WITH, "rxn2", endpoint),
        ("interacts_physical", m, "prot1", V.INTERACTS_WITH, "rxn1", endpoint),
    ])
    assert {c for c, *_ in want} == set(shex.CHECKS)
    assert Counter(tuple(r) for r in v.collect()) == want


def test_shape_checks_plan_is_flat(spark, fixture_paths, dims):
    """The nine checks share one node-flag frame: the physical plan stays
    within 15 exchanges, with no cartesian product, no nested-loop join
    and no row-at-a-time Python UDF. Reads the plan only; runs no job."""
    t = spark.read.parquet(fixture_paths["expected_triples"])
    v = shex.shex_validate(t, dims.onto_ancestors)
    plan = v._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 15, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython"):
        assert bad not in plan, plan


def test_node_flags_aggregated_once(spark, fixture_paths, dims):
    """Both ends of every checked edge read one node-flag aggregate: the
    executed plan over the fixture triples holds exactly one final
    aggregate keyed (model_id, node). Reads the plan only; runs no job."""
    t = spark.read.parquet(fixture_paths["expected_triples"])
    v = shex.shex_validate(t, dims.onto_ancestors)
    plan = v._jdf.queryExecution().executedPlan().toString()
    keyed = re.findall(
        r"Aggregate\(keys=\[model_id#\d+, node#\d+\], functions=\[(?!partial_)",
        plan,
    )
    assert len(keyed) == 1, plan
