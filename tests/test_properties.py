"""Property-based checks (hypothesis) — beyond the reference's
golden-fixture-only strategy (SURVEY.md §5): the span-sequence invariant
and pipeline determinism hold for ARBITRARY well-formed documents, not
just the curated topologies."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pathways2go_spark.ingest import (
    explode_spans,
    ingest,
    span_invariant_violations,
)

KINDS = st.sampled_from(
    ["pathway", "reaction", "protein", "small_molecule", "comment", "media"]
)
TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("L", "N"), max_codepoint=0x7F),
    min_size=0,
    max_size=20,
)


@st.composite
def documents(draw):
    n_docs = draw(st.integers(1, 4))
    docs = []
    for d in range(n_docs):
        n_spans = draw(st.integers(0, 12))
        spans, off = [], 0
        for i in draw(st.lists(st.tuples(KINDS, TEXT),
                               min_size=n_spans, max_size=n_spans)):
            kind, text = i
            payload = f"id=X{off};displayName={text}" if kind not in (
                "comment", "media") else text
            spans.append((kind, payload,
                          f"img://d{d}/{off}" if kind == "media" else "", off))
            off += max(1, len(payload))
        docs.append((f"doc{d}", spans))
    return docs


_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=documents())
def test_span_invariant_holds_for_arbitrary_docs(spark, docs):
    df = spark.createDataFrame(docs, _SCHEMA)
    assert span_invariant_violations(df).count() == 0
    # every span survives the explode with its ordinal
    assert explode_spans(df).count() == sum(len(s) for _, s in docs)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=documents())
def test_ingest_is_deterministic(spark, docs):
    df = spark.createDataFrame(docs, _SCHEMA)
    a_e, a_l = ingest(df)
    b_e, b_l = ingest(df)
    assert sorted(map(tuple, a_e.collect())) == sorted(map(tuple, b_e.collect()))
    assert sorted(map(tuple, a_l.collect())) == sorted(map(tuple, b_l.collect()))


def test_b45_b6_superstep_node_disjointness(spark, documents, fixture_paths):
    """Fusion-order safety invariant for the B4/B5+B6 superstep
    (pipeline.py): apply_delta applies B6's node_deletes before B4/B5's
    adds, so the fused superstep equals the sequential order only if no
    B4/B5-added edge endpoint is ever a B6-deletable node. B6 deletes
    regulator nodes (inv-reg edge subjects — '~'-keyed entity nodes);
    B4/B5 adds edges between reaction ids (causal-edge endpoints). Assert
    the two node-id populations are disjoint on the golden stage-A
    output, so a future change to inv-reg edge subjects breaks THIS test
    instead of silently corrupting the superstep."""
    import pyspark.sql.functions as F

    from pathways2go_spark import vocab as V
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.ingest import ingest as _ingest
    from pathways2go_spark.stage_a import extract
    from tests.conftest import FIXTURE_DIR

    dims = load_dims(spark, FIXTURE_DIR)
    elements, links = _ingest(documents)
    t = extract(elements, links, dims).triples
    inv_subjects = {
        (r["model_id"], r["subj"])
        for r in t.filter(F.col("pred").isin(V.INV_POS_REG, V.INV_NEG_REG))
        .select("model_id", "subj").distinct().collect()
    }
    assert inv_subjects, "fixture exercises no inv-reg regulators"
    causal = t.filter(
        F.col("pred").isin(
            V.CAUSALLY_UPSTREAM, V.PROVIDES_INPUT,
            V.DIRECTLY_POS_REGULATES, V.DIRECTLY_NEG_REGULATES,
        )
    )
    endpoints = {
        (r["model_id"], r["node"])
        for r in causal.select("model_id", F.col("subj").alias("node"))
        .unionByName(causal.select("model_id", F.col("obj").alias("node")))
        .distinct().collect()
    }
    assert inv_subjects.isdisjoint(endpoints), (
        "regulator node ids overlap causal-edge endpoints — the B4/B5+B6 "
        f"superstep fusion is unsafe: {sorted(inv_subjects & endpoints)[:5]}"
    )
    # and structurally: every regulator node is '~'-content-keyed
    assert all("~" in n for _, n in inv_subjects)


def test_routing_seams_produce_identical_triples(spark, documents, default_run):
    """Routing-seam property: the fused/distributed routing thresholds
    (span_threshold for stage A, local_threshold for stage B) are pure
    physical-plan switches — the triple and audit sets are identical on
    either side of every boundary of the golden fixture: a genuine
    fused/hybrid mix, only the largest doc(s) routed out, and a
    hybrid/distributed mix with only the largest model(s) routed out."""
    from tests.conftest import assert_routing_cases, routing_seams

    m, mid, bm = routing_seams(spark, documents)
    everything = 10**9
    assert_routing_cases(spark, documents, default_run, [
        (mid, everything),      # fused + hybrid
        (m - 1, everything),    # only the largest doc(s) routed out
        (-1, bm - 1),           # hybrid + distributed
    ])


# ----------------------------------------------------------------------
# VTriples / merge_virtual equivalence (stage_b.py): the base/adds split
# with a shuffle-free final merge must produce EXACTLY what the plain
# delta-virtual chain + merge_triples produces, for arbitrary interleaved
# add/delete/node-delete sequences over a key-unique base.
# ----------------------------------------------------------------------

_T_SCHEMA = ("model_id string, subj string, pred string, obj string, "
             "evidence string, rule string")

IDS = st.sampled_from([f"n{i}" for i in range(6)])
PREDS = st.sampled_from(["type", "part_of", "enabled_by", "located_in"])
EV = st.sampled_from(["ECO:1", "ECO:2"])
RULE = st.sampled_from(["A1", "B2", "B4"])


@st.composite
def delta_script(draw):
    """A key-unique base plus 1-3 delta rounds, each with optional adds
    (may collide with base/each other), delete keys, and node deletes."""
    triple = st.tuples(st.just("m"), IDS, PREDS, IDS, EV, RULE)
    base_rows = {(r[0], r[1], r[2], r[3]): r
                 for r in draw(st.lists(triple, min_size=1, max_size=10))}
    base = sorted(base_rows.values())
    rounds = []
    for _ in range(draw(st.integers(1, 3))):
        adds = draw(st.lists(triple, min_size=0, max_size=5))
        dels = [r[:4] for r in draw(st.lists(triple, min_size=0, max_size=3))]
        nodes = draw(st.lists(st.tuples(st.just("m"), IDS),
                              min_size=0, max_size=2))
        rounds.append((adds, dels, nodes))
    return base, rounds


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(script=delta_script())
def test_merge_virtual_matches_plain_chain(spark, script):
    from pathways2go_spark import stage_b as B

    base_rows, rounds = script
    base = spark.createDataFrame(base_rows, _T_SCHEMA)
    t_plain = base
    vt = B.VTriples(base)
    for adds, dels, nodes in rounds:
        a = ([spark.createDataFrame(adds, _T_SCHEMA).distinct()]
             if adds else [])
        d = ([spark.createDataFrame(
                dels, "model_id string, subj string, pred string, obj string"
             ).distinct()] if dels else [])
        nd = ([spark.createDataFrame(nodes, "model_id string, node string")]
              if nodes else [])
        t_plain = B.apply_delta(t_plain, adds=a, deletes=d, node_deletes=nd)
        vt = B.apply_delta_v(vt, adds=a, deletes=d, node_deletes=nd)
    expected = B.merge_triples(t_plain)
    actual = B.merge_virtual(vt)
    cols = ["model_id", "subj", "pred", "obj", "evidence", "rule"]
    assert sorted(map(tuple, actual.select(*cols).collect())) == sorted(
        map(tuple, expected.select(*cols).collect())
    )
    # merge_virtual output is key-unique (set semantics)
    keys = [tuple(r) for r in actual.select(*cols[:4]).collect()]
    assert len(keys) == len(set(keys))


# --------- link-prediction ops vs a pure-python reference ----------

EDGES = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1,
    max_size=20,
)


def _py_link_scores(pairs, hub_cap):
    """Independent pure-python recomputation of neighbor_jaccard and
    resource_allocation over one model's canonical undirected edges."""
    edges = {(f"n{min(a, b)}", f"n{max(a, b)}") for a, b in pairs if a != b}
    adj: dict[str, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    ok_pivot = {v for v, d in deg.items() if d <= hub_cap}
    nbr_f = {v: ns & ok_pivot for v, ns in adj.items()}
    jac, ra = {}, {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            common = nbr_f[x] & nbr_f[y]
            if not common:
                continue
            import math

            jac[(x, y)] = (
                len(common),
                math.floor(
                    len(common)
                    / (len(nbr_f[x]) + len(nbr_f[y]) - len(common))
                    * 1e6
                    + 0.5
                )
                / 1e6,
            )
            ra[(x, y)] = (
                len(common),
                sum(1_000_000 // deg[w] for w in common),
            )
    return jac, ra


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=EDGES, hub_cap=st.integers(1, 8))
def test_link_prediction_matches_python_reference(spark, pairs, hub_cap):
    """neighbor_jaccard and resource_allocation agree with a direct
    python recomputation on arbitrary small graphs — including the
    hub-cap boundary, which the golden fixture never exercises."""
    from pathways2go_spark.reports import (
        CAUSAL_FAMILY,
        neighbor_jaccard,
        resource_allocation,
    )

    p = CAUSAL_FAMILY[0]
    rows = [
        ("m", f"n{a}", p, f"n{b}") for a, b in pairs if a != b
    ]
    if not rows:
        return
    t = spark.createDataFrame(rows, ["model_id", "subj", "pred", "obj"])
    want_jac, want_ra = _py_link_scores(pairs, hub_cap)
    got_jac = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in neighbor_jaccard(t, hub_cap=hub_cap).collect()
    }
    got_ra = {
        (r.node_a, r.node_b): (r.n_common, r.ra_micro)
        for r in resource_allocation(t, hub_cap=hub_cap).collect()
    }
    assert got_jac == want_jac
    assert got_ra == want_ra
