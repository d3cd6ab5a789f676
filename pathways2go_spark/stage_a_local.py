"""Fused per-document fast path: span parse + stage A + stage B in ONE
mapInPandas pass (zero shuffles).

Every stage-A operator joins on doc_id (the reference converts one BioPAX
file at a time, BioPaxtoGO.convert BioPaxtoGO.java:167-343) and every
stage-B rule is per-model, so for documents whose span count is bounded
the whole pipeline is embarrassingly parallel: broadcast the §1.5
dictionaries, stream Arrow batches of documents, emit final triples.
pipeline.run_pipeline routes documents above `span_threshold` spans
through the distributed operators instead.

This module mirrors stage_a.py operator for operator (A1-A27; see its
file:line cites) — tests assert identical output on the fixture corpus.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd

from . import vocab as V
from .ingest import LINK_SPECS, RECORD_KINDS
from .stage_a import ENTITY_KINDS, EVENT_KINDS
from .stage_b_local import apply_rules_rows

_LINKS_BY_KIND: dict[str, list] = {}
for _k, _link, _key, _qual in LINK_SPECS:
    _LINKS_BY_KIND.setdefault(_k, []).append((_link, _key, _qual))

_RECORD_KINDS = frozenset(RECORD_KINDS)
_ENTITY_KINDS = frozenset(ENTITY_KINDS)
_EVENT_KINDS = frozenset(EVENT_KINDS)


@dataclass
class StageADims:
    """Plain-python broadcast views of the §1.5 dictionaries."""

    gpi: dict            # accession -> protein class iri
    locx: dict           # location name -> GO CC iri
    sssom_best: dict     # subject_id -> best object_id (conf>0.5)
    ec_xref: dict        # 'EC:x' -> set(go)
    sgd2ec: dict         # accession -> set(ec)
    p2g: dict            # pathway id -> manual GO BP
    drug_ids: frozenset  # entity ids with IUPHAR xref
    ancestors: dict      # class -> set(ancestors)
    set_rank: dict       # root class -> priority rank (E3 election)


def build_stage_a_dims(dims) -> StageADims:
    """From dims.Dims (Spark DataFrames) — one-time driver-side collect of
    the bounded dictionaries (same data the distributed path broadcasts)."""
    acc = dims.accession_map.toPandas()
    gpi, sgd2ec, p2g = {}, {}, {}
    for src, a, tgt in zip(acc["source"], acc["acc"], acc["target_iri"]):
        if src == "gpi":
            gpi[a] = tgt
        elif src == "sgd2ec":
            sgd2ec.setdefault(a, set()).add(tgt)
        elif src == "pathway2go":
            p2g[a] = tgt
    xr = dims.onto_xrefs.toPandas()
    locx, ec_xref = {}, {}
    for x, cls in zip(xr["xref"], xr["class_iri"]):
        if x.startswith("LOC:"):
            locx[x[4:]] = cls
        elif x.startswith("EC:"):
            ec_xref.setdefault(x, set()).add(cls)
    ss = dims.sssom.toPandas()
    best: dict[str, tuple] = {}
    for s, o, c in zip(ss["subject_id"], ss["object_id"], ss["confidence"]):
        if c <= 0.5:
            continue
        cur = best.get(s)
        # max confidence, ties broken by min object_id (dims.sssom_best)
        if cur is None or (-c, o) < cur:
            best[s] = (-c, o)
    anc_pdf = dims.onto_ancestors.toPandas()
    ancestors: dict[str, set] = {}
    for cls, a in zip(anc_pdf["class_iri"], anc_pdf["ancestor_iri"]):
        ancestors.setdefault(cls, set()).add(a)
    dr = dims.drug_ids.toPandas()
    return StageADims(
        gpi=gpi,
        locx=locx,
        sssom_best={k: v[1] for k, v in best.items()},
        ec_xref=ec_xref,
        sgd2ec=sgd2ec,
        p2g=p2g,
        drug_ids=frozenset(dr["entity_id"]),
        ancestors=ancestors,
        set_rank={c: i for i, c in enumerate(V.SET_ROOT_PRIORITY)},
    )


def _parse(doc_id: str, kinds, texts) -> tuple[dict, dict]:
    """(span kinds, span texts) -> (elements by id, links). Mirrors
    ingest.parse_elements + element_links (str_to_map / posexplode
    semantics). Takes the two struct fields as parallel sequences — the
    only ones the parser consumes — so the caller can project
    `spans.kind` / `spans.text` and let nested-schema pruning drop
    media_ref/offset at the parquet scan."""
    elems: dict[str, dict] = {}
    links: list[tuple] = []  # (src, link, dst, qual)
    for ordn, (kind, text) in enumerate(zip(kinds, texts)):
        if kind not in _RECORD_KINDS:
            continue
        attrs = {}
        for pair in (text or "").split(";"):
            if "=" in pair:
                k, _, v = pair.partition("=")
                attrs[k] = v
        eid = attrs.get("id") or f"{doc_id}#{ordn}"
        elems[eid] = {"kind": kind, "attrs": attrs}
        for link, key, has_qual in _LINKS_BY_KIND.get(kind, ()):
            vals = attrs.get(key)
            if not vals:
                continue
            for raw in vals.split(","):
                if not raw:
                    continue
                if has_qual and ":" in raw:
                    dst, _, qual = raw.partition(":")
                    links.append((eid, link, dst, qual))
                else:
                    links.append((eid, link, raw, None))
    return elems, links


def _fixpoint_up(seed: set, edges_child_to_parents: dict, max_iter: int) -> set:
    out = set(seed)
    frontier = seed
    for _ in range(max_iter):
        more = {
            p
            for c in frontier
            for p in edges_child_to_parents.get(c, ())
            if p not in out
        }
        if not more:
            break
        out |= more
        frontier = more
    return out


def extract_doc(doc_id: str, kinds, texts, D: StageADims) -> tuple[list, set]:
    """One document -> (stage-A triples [(s,p,o,rule)], drug_reactions).
    Mirrors stage_a.extract; rule tags match for parity."""
    elems, links = _parse(doc_id, kinds, texts)
    lk: dict[str, list] = {}
    for src, link, dst, qual in links:
        lk.setdefault(link, []).append((src, dst))

    # ---- A1/A2/A5: disease filter + event membership ----
    pw = {e: d for e, d in elems.items() if d["kind"] == "pathway"}
    parent_of: dict[str, set] = {}
    for child, parent in lk.get("parent", ()):
        parent_of.setdefault(child, set()).add(parent)
    for src, dst in lk.get("component", ()):
        if dst in pw:  # super-pathway containment
            parent_of.setdefault(dst, set()).add(src)
    diseased = {e for e, d in pw.items() if d["attrs"].get("isDisease") == "1"}
    # propagate disease downward: child is bad if any ancestor is bad
    bad = set(diseased)
    for _ in range(12):
        more = {
            c for c, ps in parent_of.items() if c not in bad and ps & bad
        }
        if not more:
            break
        bad |= more
    kept = {e for e in pw if e not in bad}

    events = {e: d["kind"] for e, d in elems.items() if d["kind"] in _EVENT_KINDS}
    event_pathway: list[tuple] = [
        (dst, src)
        for src, dst in lk.get("component", ())
        if src in kept and dst in events
    ]
    ev_pathways: dict[str, set] = {}
    for ev, p in event_pathway:
        ev_pathways.setdefault(ev, set()).add(p)

    # ---- A8/A9/A13/A25 entity master ----
    ent: dict[str, dict] = {}
    for eid, d in elems.items():
        kind = d["kind"]
        if kind not in _ENTITY_KINDS:
            continue
        a = d["attrs"]
        uniprot, chebi, accession = a.get("uniprot"), a.get("chebi"), a.get("accession")
        if kind == "protein":
            ref_id = uniprot or accession or eid
            cls = (
                f"UniProtKB_{uniprot}" if uniprot
                else D.gpi.get(accession) or V.PROTEIN_ROOT
            )
        elif kind == "small_molecule":
            ref_id = chebi or eid
            cls = chebi or V.CHEMICAL_ROOT
        elif kind == "complex":
            ref_id, cls = eid, f"REACTO_{eid}"
        elif kind == "dna":
            ref_id, cls = eid, V.DNA_ROOT
        elif kind == "rna":
            ref_id, cls = eid, V.RNA_ROOT
        else:  # entity_set: elected below
            ref_id, cls = eid, None
        ent[eid] = {
            "kind": kind, "ref_id": ref_id, "cls": cls,
            "chebi": chebi, "uniprot": uniprot, "accession": accession,
            "location": a.get("location"),
            "loc_gocc": D.locx.get(a.get("location")),
            "drug_xref": a.get("drugXref"),
        }
    # E3 set-root election
    members: dict[str, list] = {}
    for src, dst in lk.get("member", ()):
        members.setdefault(src, []).append(dst)
    for sid, mems in members.items():
        if sid not in ent:
            continue
        ranks = [
            D.set_rank[a]
            for m in mems
            if m in ent and ent[m]["kind"] != "entity_set" and ent[m]["cls"]
            for a in D.ancestors.get(ent[m]["cls"], ())
            if a in D.set_rank
        ]
        if ent[sid]["cls"] is None and ranks:
            ent[sid]["cls"] = V.SET_ROOT_PRIORITY[min(ranks)]
    for e in ent.values():
        if e["cls"] is None:
            e["cls"] = V.INFO_BIOMACRO
    # A25 drug flag propagation up containers
    child_to_parents: dict[str, set] = {}
    for link in ("component", "member"):
        for src, dst in lk.get(link, ()):
            child_to_parents.setdefault(dst, set()).add(src)
    direct = {
        eid for eid, e in ent.items()
        if eid in D.drug_ids or e["drug_xref"] is not None
    }
    drugged = _fixpoint_up(direct, child_to_parents, 4)

    T: list[tuple] = []  # (subj, pred, obj, rule)

    def ent_node(node: str, cls: str, ref: str, loc_gocc, rule: str) -> None:
        T.append((node, V.TYPE, cls, rule))
        T.append((node, V.EXACT, ref, rule))
        if loc_gocc:
            ln = f"{node}~loc~{loc_gocc}"
            T.append((node, V.LOCATED_IN, ln, "A13"))
            T.append((ln, V.TYPE, loc_gocc, "A13"))

    # A5 part_of
    for ev, p in event_pathway:
        T.append((ev, V.PART_OF, p, "A5"))

    # ---- A17/A18 reaction io ----
    step_dir: dict[str, str] = {}
    step_process = lk.get("step_process", ())
    step_attrs = {
        e: d["attrs"].get("stepDirection")
        for e, d in elems.items() if d["kind"] == "step"
    }
    for sid, ev in step_process:
        sd = step_attrs.get(sid)
        if sd is not None and ev in events:
            cur = step_dir.get(ev)
            step_dir[ev] = sd if cur is None else min(cur, sd)
    rxn_ids = {
        ev for ev, k in events.items()
        if k in ("reaction", "degradation") and ev in ev_pathways
    }
    drug_reactions: set = set()
    io_by_rxn: dict[str, list] = {}
    for side in ("left", "right"):
        for src, dst in lk.get(side, ()):
            if src in rxn_ids and dst in ent:
                io_by_rxn.setdefault(src, []).append((side, dst))
    for rxn, pairs in io_by_rxn.items():
        d = elems[rxn]["attrs"]
        eff = step_dir.get(rxn) or d.get("direction") or "LEFT-TO-RIGHT"
        eff = "RIGHT-TO-LEFT" if eff == "RIGHT-TO-LEFT" else "LEFT-TO-RIGHT"
        for side, eid in pairs:
            e = ent[eid]
            pred = (
                V.HAS_INPUT
                if (side == "left") == (eff == "LEFT-TO-RIGHT")
                else V.HAS_OUTPUT
            )
            if (
                e["kind"] == "small_molecule"
                and e["chebi"] is not None
                and e["chebi"] not in V.DO_NOT_JOIN
                and e["location"] is not None
            ):
                node = f"{e['ref_id']}~{e['location']}"  # A18 keyed reuse
            else:
                node = f"{e['ref_id']}~{rxn}"
            T.append((rxn, pred, node, "A18"))
            ent_node(node, e["cls"], eid, e["loc_gocc"], "A18")
            if eid in drugged:
                drug_reactions.add(rxn)

    # ---- A19-A22 controls ----
    one = lambda link: dict(lk.get(link, ()))  # noqa: E731
    ctl_controller, ctl_controlled, ctl_au = (
        one("controller"), one("controlled"), one("active_unit")
    )
    components: dict[str, list] = {}
    for src, dst in lk.get("component", ()):
        components.setdefault(src, []).append(dst)

    def reduce_complex_au(cid: str):
        """getComplexActiveUnitRecursive (BioPaxtoGO.java:2027-2097)."""
        kids = [
            c for c in components.get(cid, ())
            if c in ent and ent[c]["kind"] != "small_molecule"
        ]
        if not kids:
            return None
        if len(kids) == 1:
            return min(kids)
        prots = [c for c in kids if ent[c]["kind"] == "protein"]
        unis = {ent[c]["uniprot"] for c in prots if ent[c]["uniprot"] is not None}
        if len(prots) == len(kids) and len(unis) == 1:
            return min(kids)
        return None

    typed_events: set = set()
    ec_cand: dict[str, list] = {}  # event -> [(prio, go)]
    cat_rows: list[tuple] = []     # (event, ctl_node, accession)

    for cid, d in elems.items():
        if d["kind"] != "control":
            continue
        controller, event = ctl_controller.get(cid), ctl_controlled.get(cid)
        if controller is None or event is None or event not in rxn_ids:
            continue
        if controller not in ent:
            continue
        e = ent[controller]
        if controller in drugged:
            drug_reactions.add(event)
            continue
        ctype = d["attrs"].get("type")
        go_xref = d["attrs"].get("goXref")
        ctl_node = f"{e['ref_id']}~{event}~ctl"
        ent_node(ctl_node, e["cls"], controller, e["loc_gocc"], "A19")
        if e["kind"] == "complex":
            T.append((ctl_node, V.TYPE, V.COMPLEX_GO, "A14"))
            # A14 recursive explosion (flattenNest, depth-bounded)
            frontier = [(ctl_node, controller)]
            for _ in range(5):
                nxt = []
                for parent_node, parent_eid in frontier:
                    for c in components.get(parent_eid, ()):
                        ce = ent.get(c)
                        if ce is None or ce["kind"] == "small_molecule":
                            continue
                        child_node = f"{c}~{parent_node}~part"
                        T.append((parent_node, V.HAS_PART, child_node, "A14"))
                        T.append((child_node, V.TYPE, ce["cls"], "A14"))
                        T.append((child_node, V.EXACT, c, "A14"))
                        if ce["kind"] == "complex":
                            nxt.append((child_node, c))
                if not nxt:
                    break
                frontier = nxt
        # A20 active-unit resolution
        au_node = None
        au_target = ctl_au.get(cid)
        if au_target is not None and au_target in ent:
            if ent[au_target]["kind"] != "complex":
                au_entity = au_target
            else:
                au_entity = reduce_complex_au(au_target)
            if au_entity is not None:
                ae = ent[au_entity]
                au_node = f"{ae['ref_id']}~{event}~au"
        if ctype == "CATALYSIS":
            cat_rows.append((event, ctl_node, e["accession"]))
            if au_node is not None:
                T.append((event, V.ENABLED_BY, au_node, "A21"))
                T.append((ctl_node, V.HAS_PART, au_node, "A21"))
                ent_node(au_node, ae["cls"], au_entity, ae["loc_gocc"], "A21")
            else:
                T.append((event, V.ENABLED_BY, ctl_node, "A19"))
        else:
            reg_pred = {
                "ACTIVATION": V.INV_POS_REG,
                "INHIBITION": V.INV_NEG_REG,
            }.get(ctype, V.INV_REG)
            T.append((ctl_node, reg_pred, event, "A19"))
        if go_xref is not None:
            T.append((event, V.TYPE, go_xref, "A22"))
            typed_events.add(event)

    # ---- A10/A11/A24 event typing ladder ----
    for rxn in rxn_ids:
        ecs = elems[rxn]["attrs"].get("ecNumbers")
        if ecs:
            for ec in ecs.split(","):
                for go in D.ec_xref.get(f"EC:{ec}", ()):
                    ec_cand.setdefault(rxn, []).append((1, go))
    for ev in ev_pathways:
        go = D.sssom_best.get(ev)
        if go is not None:
            ec_cand.setdefault(ev, []).append((2, go))
    ctl_ec: dict[str, set] = {}
    for event, _, accession in cat_rows:
        if accession is None:
            continue
        for ec in D.sgd2ec.get(accession, ()):
            for go in D.ec_xref.get(f"EC:{ec}", ()):
                ctl_ec.setdefault(event, set()).add(go)
    for event, gos in ctl_ec.items():
        if len(gos) == 1:  # A11 single-MF gate
            ec_cand.setdefault(event, []).append((3, next(iter(gos))))
    for ev, cand in ec_cand.items():
        minp = min(p for p, _ in cand)
        for go in {g for p, g in cand if p == minp}:
            T.append((ev, V.TYPE, go, "A10"))
        typed_events.add(ev)
    # A23 (BioPaxtoGO.java:1786-1820): GO BP RelationshipXref on events.
    # Typed events get a BP individual via part_of and lose their default
    # part_of-pathway edges (issue #66); untyped events use the xref as
    # the A24 fallback before molecular_event.
    a23_events: set = set()
    for ev in ev_pathways:
        bp_go = elems[ev]["attrs"].get("bpXref")
        if bp_go is None:
            continue
        if ev in typed_events:
            node = f"{ev}~bp~{bp_go}"
            T.append((ev, V.PART_OF, node, "A23"))
            T.append((node, V.TYPE, bp_go, "A23"))
            a23_events.add(ev)
        else:
            T.append((ev, V.TYPE, bp_go, "A24"))
            typed_events.add(ev)
    if a23_events:
        T[:] = [
            row for row in T
            if not (row[3] == "A5" and row[0] in a23_events
                    and row[1] == V.PART_OF)
        ]
    for ev in ev_pathways:
        if ev not in typed_events:
            T.append((ev, V.TYPE, V.MOLECULAR_EVENT, "A24"))

    # ---- A4/A7 pathway typing ----
    for pid in kept:
        a = pw[pid]["attrs"]
        bp = (
            a.get("goXref") or D.sssom_best.get(pid)
            or D.p2g.get(pid) or V.BP_ROOT
        )
        T.append((pid, V.TYPE, bp, "A4"))

    # ---- A6 step-order causal edges ----
    sp_event = dict(step_process)
    for sid, nid in lk.get("next_step", ()):
        prev, nxt = sp_event.get(sid), sp_event.get(nid)
        if prev is None or nxt is None or prev == nxt:
            continue
        if ev_pathways.get(prev, set()) & ev_pathways.get(nxt, set()):
            T.append((prev, V.CAUSALLY_UPSTREAM, nxt, "A6"))

    # ---- A16 template products / A15 generic interactions ----
    for src, dst in lk.get("product", ()):
        if src in ev_pathways and dst in ent:
            e = ent[dst]
            node = f"{e['ref_id']}~{src}"
            T.append((src, V.HAS_OUTPUT, node, "A16"))
            ent_node(node, e["cls"], dst, e["loc_gocc"], "A16")
    parts_by_event: dict[str, list] = {}
    for src, dst in lk.get("participant", ()):
        if src in ev_pathways and dst in ent:
            e = ent[dst]
            node = f"{e['ref_id']}~{src}"
            ent_node(node, e["cls"], dst, e["loc_gocc"], "A15")
            parts_by_event.setdefault(src, []).append((dst, node))
    for pairs in parts_by_event.values():
        for i, (aid, anode) in enumerate(pairs):
            for bid, bnode in pairs:
                if aid < bid:
                    T.append((anode, V.INTERACTS_WITH, bnode, "A15"))

    return T, drug_reactions


def fused_pipeline_udf(bc):
    """mapInPandas function: documents batches -> final triples + in-band
    audit rows. (doc parse + A1-A27 + B10,B1-B9,B11, all per doc.)

    `bc` is a pyspark Broadcast of (StageADims, LocalDims). The task
    closure carries only the broadcast handle: the multi-MB dictionaries
    move once per executor and unpickle once per reused Python worker
    (broadcast registry cache), instead of being re-shipped and
    re-unpickled per task (measured 7.2 MB / 0.22 s per task — a serial
    tax that scales with task count, not data)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gc

        D_, B_ = bc.value
        cols = ["model_id", "subj", "pred", "obj", "evidence", "rule"]
        # Batch the cyclic GC: the per-doc rule core allocates millions of
        # short-lived dicts/tuples per Arrow batch, all freed by
        # refcounting — but each allocation burst still trips CPython's
        # generational collector, whose scan cost grows with live-object
        # count and, at 32 concurrent workers, with shared-DRAM pressure.
        # Disabling during the hot loop and collecting once per batch
        # keeps worst-case memory identical (the per-batch collect frees
        # any true cycles) while removing the per-allocation GC tax.
        # Scope: disable/enable wraps ONE batch, not the generator — if
        # the iterator is abandoned mid-stream (task kill between
        # yields), a generator-level finally may not run until GC
        # collects the frame, leaving cyclic GC off for later tasks on a
        # reused worker. Per-batch scoping means the worker is always
        # re-enabled at every yield point.
        for pdf in batches:
            was_enabled = gc.isenabled()
            gc.disable()
            try:
                rows: list[tuple] = []
                for doc_id, kinds, texts in zip(
                    pdf["doc_id"], pdf["kinds"], pdf["texts"]
                ):
                    raw, drugs = extract_doc(doc_id, kinds, texts, D_)
                    # pure-python per doc; pandas only per Arrow batch.
                    # The stage-A dedup (min rule per key, stage_a's
                    # groupBy) is apply_rules_rows' _Graph build.
                    rows.extend(
                        apply_rules_rows(
                            doc_id,
                            ((s, p, o, V.ECO_IMPORTED, r) for s, p, o, r in raw),
                            drugs,
                            B_,
                        )
                    )
                out = pd.DataFrame(rows, columns=cols)
                gc.collect()
            finally:
                if was_enabled:
                    gc.enable()
            yield out

    return run
