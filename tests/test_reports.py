"""K4 GPAD export + R2 structural validation over the pipeline output."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pathways2go_spark import vocab as V
from pathways2go_spark.analytics import gpad_export
from pathways2go_spark.dims import load_dims
from pathways2go_spark.validate import validate


@pytest.fixture(scope="module")
def result(spark, default_run, fixture_paths):
    dims = load_dims(spark, os.path.dirname(fixture_paths["documents"]))
    return default_run, dims


def test_gpad_enables_row(result):
    res, dims = result
    rows = gpad_export(res.triples, dims.onto_ancestors)
    # T1: enzyme U-T1x00000-10 enables R2's MF (B1 gave R2 GO_0003674)
    got = {
        (r.db_object_id, r.qualifier, r.go_id)
        for r in rows.filter(F.col("reference") == "T1x00000").collect()
    }
    assert ("U-T1x00000-10", "enables", V.MF_ROOT) in got
    # and involved_in the pathway's BP root type
    assert ("U-T1x00000-10", "involved_in", V.BP_ROOT) in got


def test_gpad_schema_constants(result):
    res, dims = result
    rows = gpad_export(res.triples, dims.onto_ancestors)
    one = rows.limit(1).collect()[0]
    assert one.db == "UniProtKB"
    assert one.evidence == V.ECO_IMPORTED


def test_validation_clean(result):
    res, dims = result
    bad = validate(res.triples, dims.onto_ancestors)
    rows = bad.collect()
    assert rows == [], rows[:20]


def test_validation_explanations(spark, result):
    """A seeded inconsistency yields its explaining edge set: the
    violation row's detail names the offending edge, its endpoints and
    the emitting rule — the renderExplanation surface
    (BioPaxtoGO.java:642-676) in tabular form."""
    res, dims = result
    m = res.triples.first()["model_id"]
    seeded = spark.createDataFrame(
        [
            # dangling edge: object never typed; rule provenance carried
            (m, "seedR", "type", V.MOLECULAR_EVENT, V.ECO_IMPORTED, "seed_t"),
            (m, "seedR", V.HAS_INPUT, "seed_ghost", V.ECO_IMPORTED, "seed_a18"),
            # disjointness clash: one node typed in both MF and BP
            (m, "seedX", "type", V.MF_ROOT, V.ECO_IMPORTED, "seed_mf"),
            (m, "seedX", "type", V.BP_ROOT, V.ECO_IMPORTED, "seed_bp"),
            # evidence-less edge
            (m, "seedR", V.HAS_OUTPUT, "seedX", None, "seed_b1"),
        ],
        ["model_id", "subj", "pred", "obj", "evidence", "rule"],
    )
    t = res.triples.select(*seeded.columns).unionByName(seeded)
    bad = validate(t, dims.onto_ancestors).collect()
    by_check = {}
    for r in bad:
        by_check.setdefault(r["check"], []).append(r)
    dang = [r for r in by_check["dangling_edge_endpoint"]
            if r["node"] == "seed_ghost"]
    assert dang and "seedR" in dang[0]["detail"]
    assert "rule seed_a18" in dang[0]["detail"]
    clash = [r for r in by_check["mf_bp_overlap"] if r["node"] == "seedX"]
    assert clash
    assert V.MF_ROOT in clash[0]["detail"] and V.BP_ROOT in clash[0]["detail"]
    assert "seed_mf" in clash[0]["detail"] and "seed_bp" in clash[0]["detail"]
    noev = [r for r in by_check["missing_evidence"] if r["node"] == "seedR"]
    assert noev and "rule seed_b1" in noev[0]["detail"]


def test_gpad_compare_statuses(spark):
    """K4b diff: overlap / missing / extra classification + the
    reference's gene-id-present split for missing rows."""
    from pathways2go_spark.analytics import gpad_compare

    cols = ["db", "db_object_id", "qualifier", "go_id", "reference"]
    exp = spark.createDataFrame(
        [("UniProtKB", "P1", "enables", "GO_1", "m1"),
         ("UniProtKB", "P2", "enables", "GO_2", "m1")], cols)
    ref = spark.createDataFrame(
        [("UniProtKB", "P1", "enables", "GO_1", "m1"),      # overlap
         ("UniProtKB", "P2", "involved_in", "GO_3", "m1"),  # missing, gene known
         ("UniProtKB", "P9", "enables", "GO_4", "m1")], cols)  # missing, unknown
    got = {(r.db_object_id, r.qualifier, r.go_id): (r.status, r.gene_in_export)
           for r in gpad_compare(exp, ref).collect()}
    assert got[("P1", "enables", "GO_1")] == ("overlap", True)
    assert got[("P2", "enables", "GO_2")] == ("extra", True)
    assert got[("P2", "involved_in", "GO_3")] == ("missing", True)
    assert got[("P9", "enables", "GO_4")] == ("missing", False)


def test_gpad_compare_against_fixture(spark, result, fixture_paths):
    """The deterministic reference fixture exercises every status."""
    import os as _os

    from pathways2go_spark.analytics import gpad_compare
    from pathways2go_spark.datagen import ensure_reference_gpad

    res, dims = result
    fdir = _os.path.dirname(fixture_paths["documents"])
    ref = spark.read.parquet(ensure_reference_gpad(fdir))
    d = gpad_compare(gpad_export(res.triples, dims.onto_ancestors), ref)
    statuses = {r["status"] for r in d.select("status").distinct().collect()}
    assert statuses == {"overlap", "missing", "extra"}


# ------------------- K3 full report + G8-deep analytics -------------------

def test_entity_mapping_buckets(result):
    """Curated vs rule vs closure-inferred type split
    (GoCAMReport NR mapping report semantics)."""
    from pathways2go_spark import reports as RP

    res, dims = result
    em = RP.entity_mapping(res.triples, dims.onto_ancestors)
    rows = {(r.model_id, r.node): r for r in em.collect()}
    # B3 binding node: only the rule-minted GO_0005488, never curated
    bind = [r for r in rows.values() if "~bind~" in r.node]
    assert bind and all(
        r.rule_types == V.BINDING and r.curated_types == "" for r in bind
    )
    # a curated MF with a mid-tier parent must surface as inferred
    deep = [r for r in rows.values()
            if r.curated_types and "GO_99001" in r.inferred_types]
    assert deep, "mid-tier ontology parent never inferred"
    # inferred never repeats an asserted class
    for r in rows.values():
        inf = set(r.inferred_types.split(",")) - {""}
        ast = set(r.curated_types.split(",")) | set(r.rule_types.split(","))
        assert not (inf & ast), r


def test_model_report_consistency(result):
    """Per-kind counters partition the kind population."""
    from pathways2go_spark import reports as RP

    res, dims = result
    mr = RP.model_report(res.triples, dims.onto_ancestors).collect()
    assert mr
    for r in mr:
        for k, n in [("pathway", r.n_pathways), ("function", r.n_functions),
                     ("complex", r.n_complexes)]:
            unc = r[f"{k}_unclassified"]
            rc = r[f"{k}_rule_classified"]
            assert unc + rc <= n, r
    assert sum(r.function_deepened for r in mr) > 0
    assert sum(r.function_rule_classified for r in mr) > 0


def test_inconsistent_models(spark):
    from pathways2go_spark.reports import inconsistent_models

    v = spark.createDataFrame(
        [("dangling_edge_endpoint", "m1", "n1", "BFO_0000050"),
         ("unknown_predicate", "m1", "n2", "XX_1"),
         ("mf_bp_overlap", "m3", "n3", "type")],
        "check string, model_id string, node string, pred string",
    )
    got = {r.model_id: (r.n_violations, list(r.checks))
           for r in inconsistent_models(v).collect()}
    assert got == {
        "m1": (2, ["dangling_edge_endpoint", "unknown_predicate"]),
        "m3": (1, ["mf_bp_overlap"]),
    }


def test_reaction_venn_and_completeness(result):
    """Venn flags agree with direct triple probes; census = column sums
    (Manuscript runCounts/buildVenn)."""
    from pathways2go_spark import reports as RP

    res, dims = result
    venn = RP.reaction_venn(res.triples, dims.onto_ancestors)
    rows = venn.collect()
    assert rows
    # no generated node (ids with ~) may enter the reaction universe
    assert all("~" not in r.reaction for r in rows)
    # census equals column sums
    c = RP.reaction_completeness(res.triples, dims.onto_ancestors).collect()[0]
    assert c.n_reactions == len(rows)
    assert c.n_with_enabler == sum(r.has_enabler for r in rows)
    assert c.n_no_causal == sum(1 - r.has_causal for r in rows)
    assert c.n_with_enabler + c.n_no_enabler == c.n_reactions


def test_causal_formats_binding_hop(spark):
    """The provides_input -> binding-node -> regulates hop collapses to
    one upstream->downstream pair (Manuscript.java:482-486), and
    multi-relation pairs count once."""
    from pathways2go_spark.reports import causal_formats

    t = spark.createDataFrame(
        [
            ("m", "R1", "type", "REACTO_molecular_event"),
            ("m", "R2", "type", "REACTO_molecular_event"),
            ("m", "R3", "type", "REACTO_molecular_event"),
            # direct causal edge, twice under different relations
            ("m", "R1", V.CAUSALLY_UPSTREAM, "R2"),
            ("m", "R1", V.PROVIDES_INPUT, "R2"),
            # binding hop R1 -> bind node -> R3
            ("m", "R1", V.PROVIDES_INPUT, "R1~bind~X"),
            ("m", "R1~bind~X", "type", V.BINDING),
            ("m", "R1~bind~X", V.DIRECTLY_POS_REGULATES, "R3"),
        ],
        "model_id string, subj string, pred string, obj string",
    )
    anc = spark.createDataFrame(
        [(V.BINDING, V.MF_ROOT), (V.BINDING, V.BINDING)],
        "class_iri string, ancestor_iri string",
    )
    got = {(r.pred): r.n_pairs for r in causal_formats(t, anc).collect()}
    # R1->R2 counted ONCE under min(pred) RO_0002411; hop pair under 2629
    assert got == {V.CAUSALLY_UPSTREAM: 1, V.DIRECTLY_POS_REGULATES: 1}


def test_deprecated_and_chebi_usage(result):
    from pathways2go_spark import reports as RP
    from pyspark.sql import functions as _F

    res, dims = result
    dep = dims.onto_ancestors.select(
        _F.col("class_iri").alias("cls")
    ).distinct().limit(3)
    used = RP.deprecated_terms_used(res.triples, dep).collect()
    for r in used:
        assert r.n_uses >= r.n_models >= 1
    chebi = RP.chebi_usage(res.triples, dims.onto_ancestors).collect()
    assert all(r.cls.startswith("CHEBI_") for r in chebi)
    assert sum(r.n for r in chebi) > 0


def test_causal_paths_min_hop_bfs(spark):
    from pathways2go_spark.reports import causal_paths

    # m1: chain a->b->c->d->e plus shortcut a->c plus cycle e->a;
    # m2: isolated pair x->y (model key isolation)
    edges = [
        ("m1", "a", "b"), ("m1", "b", "c"), ("m1", "c", "d"),
        ("m1", "d", "e"), ("m1", "a", "c"), ("m1", "e", "a"),
        ("m2", "x", "y"),
    ]
    t = spark.createDataFrame(
        [(m, s, V.CAUSALLY_UPSTREAM, o) for m, s, o in edges],
        ["model_id", "subj", "pred", "obj"],
    )
    out = {
        (r.model_id, r.src, r.dst): r.depth
        for r in causal_paths(t, max_depth=4).collect()
    }
    # shortcut wins over the 2-hop path: a->c is depth 1, a->d depth 2
    assert out[("m1", "a", "c")] == 1
    assert out[("m1", "a", "d")] == 2
    assert out[("m1", "a", "e")] == 3
    # the cycle closes every pair without hanging: e->a->c is depth 2
    assert out[("m1", "e", "c")] == 2
    assert out[("m1", "a", "a")] == 4  # a->c->d->e->a
    # no cross-model leakage
    assert out[("m2", "x", "y")] == 1
    assert ("m2", "x", "b") not in out and ("m1", "a", "y") not in out
    # non-causal predicates are ignored
    t2 = spark.createDataFrame(
        [(m, s, V.CAUSALLY_UPSTREAM, o) for m, s, o in edges]
        + [("m2", "y", V.TYPE, "z")],
        ["model_id", "subj", "pred", "obj"],
    )
    assert ("m2", "y", "z") not in {
        (r.model_id, r.src, r.dst)
        for r in causal_paths(t2, max_depth=2).collect()
    }
    # early exit: max_depth beyond the closure still terminates; the
    # cycle makes m1 one 5-node SCC, so the full closure is 5*5 + 1
    assert len(causal_paths(t, max_depth=10).collect()) == 26


def test_causal_pagerank_cycle_and_dangling(spark):
    """On a 3-cycle the stationary ranks are uniform (power iteration
    must stay at 1/N every step); a dangling sink keeps collecting
    d * contrib while sources decay toward (1-d)/N."""
    from pathways2go_spark.reports import CAUSAL_FAMILY, causal_pagerank

    p = CAUSAL_FAMILY[0]
    cyc = [("m1", a, p, b) for a, b in
           [("a", "b"), ("b", "c"), ("c", "a")]]
    # m2: two sources both pointing at one sink (dangling)
    star = [("m2", "s1", p, "t"), ("m2", "s2", p, "t")]
    t = spark.createDataFrame(cyc + star,
                              ["model_id", "subj", "pred", "obj"])
    out = {(r.model_id, r.node): (r.pr, r.n_nodes)
           for r in causal_pagerank(t, iters=5).collect()}
    # cycle: every node keeps pr exactly round6(1/3)
    third = 0.333333
    for n in "abc":
        assert out[("m1", n)] == (third, 3), out[("m1", n)]
    # star sources never receive mass: after >=2 iters
    # pr(s) = round6(0.15/3) = 0.05
    assert out[("m2", "s1")] == (0.05, 3)
    assert out[("m2", "s2")] == (0.05, 3)
    # sink: pr(t) = round6(0.05 + 0.85 * 2 * round6(pr_prev(s)))
    # converges to 0.05 + 0.85*2*0.05 = 0.135
    assert out[("m2", "t")] == (0.135, 3)
    # non-causal predicates are ignored entirely
    t2 = spark.createDataFrame(
        [("m3", "x", "not_causal", "y")],
        ["model_id", "subj", "pred", "obj"],
    )
    assert causal_pagerank(t2, iters=2).count() == 0


def test_causal_triangles_known_graph(spark):
    from pathways2go_spark.reports import CAUSAL_FAMILY, causal_triangles

    p = CAUSAL_FAMILY[0]
    rows = [
        # m1: triangle a-b-c plus pendant c-d; direction/parallel edges
        # collapse (b->a duplicates a->b via a second causal pred)
        ("m1", "a", p, "b"), ("m1", "b", CAUSAL_FAMILY[1], "a"),
        ("m1", "b", p, "c"), ("m1", "a", p, "c"), ("m1", "c", p, "d"),
        # m2: a path only — no triangle; self-loop must drop
        ("m2", "x", p, "y"), ("m2", "y", p, "z"), ("m2", "x", p, "x"),
        # m3: non-causal edges only — absent from output
        ("m3", "q", "some_other_pred", "r"),
    ]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {r.model_id: r.asDict() for r in causal_triangles(t).collect()}
    assert set(out) == {"m1", "m2"}
    # m1: 4 edges, degrees a=2,b=2,c=3,d=1 -> wedges 1+1+3 = 5, 1 triangle
    assert out["m1"]["n_edges"] == 4
    assert out["m1"]["n_wedges"] == 5
    assert out["m1"]["n_triangles"] == 1
    assert out["m1"]["clustering"] == 0.6
    # m2: 2 edges, one wedge at y, no triangle
    assert out["m2"]["n_wedges"] == 1
    assert out["m2"]["n_triangles"] == 0
    assert out["m2"]["clustering"] == 0.0


def test_kg_components_per_model_isolation(spark):
    from pathways2go_spark.reports import kg_components

    p = V.PART_OF
    rows = [
        # m1: one 3-node chain + one 2-node island
        ("m1", "a", p, "b"), ("m1", "b", p, "c"), ("m1", "x", p, "y"),
        # m2: same node NAMES as m1 — must not merge across models
        ("m2", "a", p, "b"),
        # non-edge predicate: ignored entirely
        ("m2", "a", "rdf_type", "SomeClass"),
    ]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {r.model_id: r.asDict() for r in kg_components(t).collect()}
    assert out["m1"] == {"model_id": "m1", "n_nodes": 5,
                         "n_components": 2, "largest_component": 3}
    assert out["m2"] == {"model_id": "m2", "n_nodes": 2,
                         "n_components": 1, "largest_component": 2}


def test_dag_levels_layering_and_cycle_guard(spark):
    from pyspark.sql import functions as F

    from pathways2go_spark.reports import CAUSAL_FAMILY, dag_levels

    pred = CAUSAL_FAMILY[0]
    # m1: diamond a->b, a->c, b->d, c->d, plus long arm a->e->f->d
    # (longest-path layering: d = 1 + max(b,c,f) = 3)
    # m2: cycle x->y->z->x feeding w (w cycle-locked -> -1), root r->x
    rows = [
        ("m1", "a", pred, "b"), ("m1", "a", pred, "c"),
        ("m1", "b", pred, "d"), ("m1", "c", pred, "d"),
        ("m1", "a", pred, "e"), ("m1", "e", pred, "f"),
        ("m1", "f", pred, "d"),
        ("m2", "r", pred, "x"), ("m2", "x", pred, "y"),
        ("m2", "y", pred, "z"), ("m2", "z", pred, "x"),
        ("m2", "z", pred, "w"),
    ]
    t = spark.createDataFrame(
        rows, "model_id string, subj string, pred string, obj string"
    )
    out = {(r["model_id"], r["node"]): r["level"]
           for r in dag_levels(t, max_levels=8).collect()}
    assert out[("m1", "a")] == 0
    assert out[("m1", "b")] == 1 and out[("m1", "c")] == 1
    assert out[("m1", "e")] == 1 and out[("m1", "f")] == 2
    assert out[("m1", "d")] == 3  # longest path wins, not min-hop
    assert out[("m2", "r")] == 0
    for n in ("x", "y", "z", "w"):
        assert out[("m2", n)] == -1, n
    # non-causal predicates are ignored entirely
    t2 = t.withColumn("pred", F.lit("https://example.org/not_causal"))
    assert dag_levels(t2).count() == 0


def test_kcore_cascading_peel_and_cooccur(spark):
    from pathways2go_spark.reports import CAUSAL_FAMILY, kcore, term_cooccurrence

    pred = CAUSAL_FAMILY[0]
    # triangle a-b-c (the 2-core) with a pendant chain c->d->e->f:
    # peeling f exposes e, then d — the fixed point needs MULTIPLE
    # rounds, which is what distinguishes k-core from a one-shot
    # degree filter
    rows = [
        ("m", "a", pred, "b"), ("m", "b", pred, "c"),
        ("m", "c", pred, "a"), ("m", "c", pred, "d"),
        ("m", "d", pred, "e"), ("m", "e", pred, "f"),
    ]
    t = spark.createDataFrame(
        rows, "model_id string, subj string, pred string, obj string"
    )
    core = {r["node"]: r["core_degree"] for r in kcore(t, k=2).collect()}
    assert set(core) == {"a", "b", "c"}
    assert all(v == 2 for v in core.values())
    # one-shot degree filter would have kept d and e (degree 2 before
    # the cascade) — assert the cascade actually removed them
    assert "d" not in core and "e" not in core
    # 3-core of a triangle is empty
    assert kcore(t, k=3).count() == 0
    # co-occurrence: terms typed into the same model pair up once,
    # cross-model support counts models not occurrences
    ty = spark.createDataFrame(
        [
            ("m1", "n1", "type", "GO_A"), ("m1", "n2", "type", "GO_B"),
            ("m1", "n3", "type", "GO_B"),
            ("m2", "n4", "type", "GO_A"), ("m2", "n5", "type", "GO_B"),
            ("m3", "n6", "type", "GO_A"), ("m3", "n7", "type", "GO_C"),
        ],
        "model_id string, subj string, pred string, obj string",
    )
    co = {(r["term_a"], r["term_b"]): r["n_models"]
          for r in term_cooccurrence(ty, min_support=1).collect()}
    assert co[("GO_A", "GO_B")] == 2  # m1 (deduped) + m2
    assert co[("GO_A", "GO_C")] == 1
    assert ("GO_B", "GO_C") not in co
    assert term_cooccurrence(ty, min_support=2).count() == 1


def test_node_clustering_known_graph(spark):
    from pathways2go_spark.reports import CAUSAL_FAMILY, node_clustering

    p = CAUSAL_FAMILY[0]
    rows = [
        # m1: triangle a-b-c plus pendant c-d
        ("m1", "a", p, "b"), ("m1", "b", p, "c"),
        ("m1", "a", p, "c"), ("m1", "c", p, "d"),
        # m2: wedge only — coefficients all zero at the center
        ("m2", "x", p, "y"), ("m2", "y", p, "z"),
    ]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {
        (r.model_id, r.node): r.asDict()
        for r in node_clustering(t).collect()
    }
    # degree-1 node d is absent; a and b are fully clustered (deg 2,
    # 1 triangle => c = 1.0); c has deg 3, 1 of 3 possible pairs closed
    assert ("m1", "d") not in out
    assert out[("m1", "a")]["coeff"] == 1.0
    assert out[("m1", "b")]["coeff"] == 1.0
    assert out[("m1", "c")]["degree"] == 3
    assert out[("m1", "c")]["n_tri"] == 1
    assert abs(out[("m1", "c")]["coeff"] - 0.333333) < 1e-9
    # m2: only the wedge center y has degree >= 2; zero triangles
    assert out[("m2", "y")]["n_tri"] == 0
    assert out[("m2", "y")]["coeff"] == 0.0
    assert ("m2", "x") not in out


def test_neighbor_jaccard_known_graph(spark):
    from pathways2go_spark.reports import CAUSAL_FAMILY, neighbor_jaccard

    p = CAUSAL_FAMILY[0]
    rows = [
        # m1: star center h with leaves a,b,c  => every leaf pair shares
        # exactly {h}; deg_f(leaf)=1 so jaccard = 1/(1+1-1) = 1.0
        ("m1", "h", p, "a"), ("m1", "h", p, "b"), ("m1", "h", p, "c"),
        # m1: a-b edge too: a and b are ALSO direct neighbors; their
        # neighborhoods are {h,b} and {h,a} -> common {h}, j = 1/3
        ("m1", "a", p, "b"),
    ]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {
        (r.model_id, r.node_a, r.node_b): r.asDict()
        for r in neighbor_jaccard(t).collect()
    }
    ab = out[("m1", "a", "b")]
    assert ab["n_common"] == 1
    assert abs(ab["jaccard"] - 0.333333) < 1e-9
    ac = out[("m1", "a", "c")]
    # N(a)={h,b}, N(c)={h} -> 1/(2+1-1) = 0.5
    assert ac["n_common"] == 1 and abs(ac["jaccard"] - 0.5) < 1e-9
    bc = out[("m1", "b", "c")]
    assert bc["n_common"] == 1 and abs(bc["jaccard"] - 0.5) < 1e-9


def test_neighbor_jaccard_hub_cap(spark):
    """A pivot whose degree exceeds hub_cap is dropped from BOTH the
    common counts and the filtered degrees — pairs that only share the
    hub disappear, bounding the pivot fan-out by construction."""
    from pathways2go_spark.reports import CAUSAL_FAMILY, neighbor_jaccard

    p = CAUSAL_FAMILY[0]
    rows = [("m1", "hub", p, f"n{i:02d}") for i in range(5)]
    # plus one non-hub shared neighbor between n00 and n01
    rows += [("m1", "n00", p, "w"), ("m1", "n01", p, "w")]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {
        (r.node_a, r.node_b): r.asDict()
        for r in neighbor_jaccard(t, hub_cap=4).collect()
    }
    # hub has degree 5 > cap: the 10 hub-PIVOTED pairs are gone. What
    # survives: n00-n01 (via pivot w, deg 2; hub-filtered degrees
    # deg_f(n00) = deg_f(n01) = 1 = {w} -> jaccard 1.0), and hub-w
    # (the hub as an ENDPOINT is still a node — its pair with w shares
    # pivots n00 and n01: 2 / (5 + 2 - 2) = 0.4).
    assert set(out) == {("n00", "n01"), ("hub", "w")}
    assert out[("n00", "n01")]["n_common"] == 1
    assert out[("n00", "n01")]["jaccard"] == 1.0
    assert out[("hub", "w")]["n_common"] == 2
    assert abs(out[("hub", "w")]["jaccard"] - 0.4) < 1e-9


def test_resource_allocation_known_graph(spark):
    """Star h->{a,b,c} plus a-b edge: pivot degrees weight the shared-
    neighbor evidence, all in exact integer micro-units."""
    from pathways2go_spark.reports import CAUSAL_FAMILY, resource_allocation

    p = CAUSAL_FAMILY[0]
    rows = [
        ("m1", "h", p, "a"), ("m1", "h", p, "b"), ("m1", "h", p, "c"),
        ("m1", "a", p, "b"),
    ]
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    out = {
        (r.node_a, r.node_b): r.asDict()
        for r in resource_allocation(t).collect()
    }
    # deg: h=3, a=2, b=2, c=1
    # a-b share pivot h (deg 3): ra = floor(1e6/3) = 333333
    assert out[("a", "b")]["n_common"] == 1
    assert out[("a", "b")]["ra_micro"] == 333333
    # a-c and b-c share h too -> same contribution
    assert out[("a", "c")]["ra_micro"] == 333333
    # a-h share pivot b (deg 2): 500000; b-h share a (deg 2): 500000
    assert out[("a", "h")]["ra_micro"] == 500000
    assert out[("b", "h")]["ra_micro"] == 500000


def _seeded_report_inputs(spark):
    """One hand-built corpus plus a small closure dim. Seeds: a node
    typed both BP and MF, a class under both the chemical and protein
    roots, a type outside the ontology, a root-only MF type, a
    `~`-suffixed generated node carrying an MF type, part_of to a
    pathway whose only BP type is the root, causally_upstream to a
    non-xref'd node, a binding-node hop, duplicated type and edge rows,
    a model with only an unknown type and a model with only an edge."""
    anc = [(r, r) for r in (V.MF_ROOT, V.BP_ROOT, V.CC_ROOT, V.COMPLEX_GO,
                            V.CHEMICAL_ROOT, V.PROTEIN_ROOT)]
    for cls, sups in {
        V.BINDING: [V.MF_ROOT],
        "GO_MF1": ["GO_MFMID", V.MF_ROOT], "GO_MFMID": [V.MF_ROOT],
        "GO_BP1": [V.BP_ROOT], "GO_CC1": [V.CC_ROOT],
        "GO_CPLX1": [V.COMPLEX_GO, V.CC_ROOT],
        "CHEBI_PX": [V.PROTEIN_ROOT, V.CHEMICAL_ROOT],
        "CHEBI_C1": ["CHEBI_CMID", V.CHEMICAL_ROOT],
        "CHEBI_CMID": [V.CHEMICAL_ROOT],
        "UniProtKB_U1": [V.PROTEIN_ROOT],
    }.items():
        anc += [(cls, cls)] + [(cls, s) for s in sups]
    types = [
        ("PW1", "GO_BP1"), ("PW0", V.BP_ROOT),
        ("X1", "GO_BP1"), ("X1", "GO_MF1"),
        ("R1", "GO_MF1"), ("R1", "GO_MF1"), ("R1", V.MOLECULAR_EVENT),
        ("R2", V.MF_ROOT), ("R3", V.MOLECULAR_EVENT), ("R3~gen", "GO_MF1"),
        ("R4", "FOREIGN_1"), ("E1", "UniProtKB_U1"), ("S1", "CHEBI_PX"),
        ("S2", "CHEBI_C1"), ("S2", "CHEBI_C1"), ("L1", "GO_CC1"),
        ("C1", "GO_CPLX1"), ("R1~bind~1", V.BINDING),
    ]
    edges = [
        ("R1", V.ENABLED_BY, "E1"), ("R1", V.ENABLED_BY, "E1"),
        ("R1", V.OCCURS_IN, "L1"), ("R1", V.PART_OF, "PW1"),
        ("R1", V.HAS_INPUT, "S1"), ("R1", V.HAS_INPUT, "S2"),
        ("R1", V.HAS_INPUT, "S2"), ("R1", V.HAS_OUTPUT, "C1"),
        ("R2", V.ENABLED_BY, "E1"), ("R2", V.PART_OF, "PW0"),
        ("R1", V.CAUSALLY_UPSTREAM, "R2"),
        ("R3", V.CAUSALLY_UPSTREAM, "R3~gen"),
        ("R3", V.HAS_OUTPUT, "S1"), ("R3", V.HAS_OUTPUT, "S2"),
        ("R1", V.PROVIDES_INPUT, "R1~bind~1"),
        ("R1~bind~1", V.DIRECTLY_POS_REGULATES, "R3"),
        ("X1", V.PART_OF, "PW1"),
    ]
    t = spark.createDataFrame(
        [("m1", n, V.TYPE, c) for n, c in types]
        + [("m1", *e) for e in edges]
        + [("m2", "Q1", V.TYPE, "FOREIGN_2"), ("m3", "A", V.PART_OF, "B")],
        "model_id string, subj string, pred string, obj string",
    )
    return t, spark.createDataFrame(anc, "class_iri string, ancestor_iri string")


def test_seeded_report_rows_exact(spark):
    """Exact rows of every flag-reading report on the seeded corpus:
    kind precedence, the n_chemicals protein exclusion, root-only and
    out-of-ontology types, the `~` guard, root-only pathways, the
    xref'd-other causal rule, the binding hop and duplicate rows."""
    from pathways2go_spark import analytics as G
    from pathways2go_spark import reports as RP

    t, anc = _seeded_report_inputs(spark)

    eco, by = V.ECO_IMPORTED, "pathways2go_spark"
    want = {
        "node_kinds": [
            ("m1", "C1", "complex"), ("m1", "PW0", "pathway"),
            ("m1", "PW1", "pathway"), ("m1", "R1", "function"),
            ("m1", "R1~bind~1", "function"), ("m1", "R2", "function"),
            ("m1", "R3~gen", "function"), ("m1", "X1", "pathway"),
        ],
        "entity_mapping": [
            ("m1", "C1", "complex", "GO_CPLX1", "", ""),
            ("m1", "PW0", "pathway", "", "", ""),
            ("m1", "PW1", "pathway", "GO_BP1", "", ""),
            ("m1", "R1", "function", "GO_MF1", "", "GO_MFMID"),
            ("m1", "R1~bind~1", "function", "", V.BINDING, ""),
            ("m1", "R2", "function", "", "", ""),
            ("m1", "R3~gen", "function", "GO_MF1", "", "GO_MFMID"),
            ("m1", "X1", "pathway", "GO_BP1,GO_MF1", "", "GO_MFMID"),
        ],
        # kinds, unclassified, rule_classified, deepened (pathway,
        # function, complex each), then proteins, chemicals, cc, relations
        "model_report": [
            ("m1", 3, 4, 1, 1, 1, 0, 0, 1, 0, 1, 2, 0, 2, 1, 2, 8),
            ("m3", 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1),
        ],
        "reaction_venn": [
            ("m1", "R1", 1, 1, 1, 1, 1, 1, 1, 1, 0),
            ("m1", "R2", 1, 0, 0, 1, 0, 1, 0, 0, 0),
            ("m1", "R3", 0, 1, 0, 0, 0, 0, 0, 0, 1),
            ("m1", "X1", 1, 0, 1, 0, 0, 0, 1, 0, 0),
        ],
        "reaction_completeness": [(4, 3, 1, 2, 2, 1, 2, 2, 2, 1, 3, 1, 1, 1)],
        "causal_formats": [("m1", V.CAUSALLY_UPSTREAM, 1),
                           ("m1", V.DIRECTLY_POS_REGULATES, 1)],
        "chebi_usage": [("CHEBI_C1", 2), ("CHEBI_PX", 1)],
        "count_unclassified": [("m1", 2), ("m2", 1)],
        "gpad_export": [
            ("UniProtKB", "U1", q, go, "m1", eco, by)
            for q, go in [("enables", V.MF_ROOT), ("enables", "GO_MF1"),
                          ("involved_in", V.BP_ROOT),
                          ("involved_in", "GO_BP1")]
        ],
    }
    got = {
        "node_kinds": RP.node_kinds(t, anc),
        "entity_mapping": RP.entity_mapping(t, anc),
        "model_report": RP.model_report(t, anc),
        "reaction_venn": RP.reaction_venn(t, anc),
        "reaction_completeness": RP.reaction_completeness(t, anc),
        "causal_formats": RP.causal_formats(t, anc),
        "chebi_usage": RP.chebi_usage(t, anc),
        "count_unclassified": G.count_unclassified(t, anc),
        "gpad_export": G.gpad_export(t, anc),
    }
    for name, df in got.items():
        assert sorted(tuple(r) for r in df.collect()) == want[name], name


def test_report_plans_are_flat(spark, fixture_paths):
    """reaction_venn and model_report are aggregates over the shared
    class-flag frame: each executed plan over the fixture triples stays
    within 14 exchanges, with no cartesian product, no nested-loop join
    and no row-at-a-time Python UDF. Reads the plan only; runs no job."""
    from pathways2go_spark import reports as RP

    t = spark.read.parquet(fixture_paths["expected_triples"])
    anc = load_dims(spark, os.path.dirname(fixture_paths["documents"])).onto_ancestors
    for report in (RP.reaction_venn, RP.model_report):
        plan = report(t, anc)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 14, (report.__name__, plan)
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "BatchEvalPython"):
            assert bad not in plan, (report.__name__, plan)
