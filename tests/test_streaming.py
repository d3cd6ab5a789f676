"""Streaming ingestion == batch pipeline on the same corpus."""

from __future__ import annotations

import os

import pytest

from pathways2go_spark.dims import load_dims
from pathways2go_spark.pipeline import precision_recall, run_pipeline
from pathways2go_spark.streaming import read_stream_triples, start_kg_stream


def test_stream_matches_batch(spark, documents, fixture_paths, default_run,
                              tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    docs_dir = os.path.join(base, "docs")
    out_dir = os.path.join(base, "out")
    ck_dir = os.path.join(base, "ck")
    os.makedirs(docs_dir)

    # two arrival waves (micro-batches) of the fixture corpus
    ids = sorted(r.doc_id for r in documents.select("doc_id").collect())
    half = ids[len(ids) // 2]
    documents.filter(documents.doc_id <= half).coalesce(1).write.parquet(
        os.path.join(docs_dir, "wave=a")
    )
    documents.filter(documents.doc_id > half).coalesce(1).write.parquet(
        os.path.join(docs_dir, "wave=b")
    )

    dims = load_dims(spark, os.path.dirname(fixture_paths["documents"]))
    q = start_kg_stream(
        spark, f"{docs_dir}/wave=*", dims, out_dir, ck_dir,
        buckets=4, max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    streamed = read_stream_triples(spark, out_dir)
    pr = precision_recall(streamed, default_run.triples)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


@pytest.mark.parametrize("starter", ["start_kg_stream", "start_snapshot_stream"])
def test_stream_prepares_dims_once(spark, documents, fixture_paths, tmp_path,
                                   monkeypatch, starter):
    """The micro-batches of one stream share one dictionary build and
    broadcast."""
    from pathways2go_spark import pipeline, streaming

    calls = []
    real = pipeline.prepare_local_dims
    counted = lambda dims: calls.append(dims) or real(dims)  # noqa: E731
    monkeypatch.setattr(pipeline, "prepare_local_dims", counted)
    monkeypatch.setattr(streaming, "prepare_local_dims", counted, raising=False)
    ids = sorted(r.doc_id for r in documents.select("doc_id").collect())[:4]
    for i, wave in enumerate((ids[:2], ids[2:])):
        documents.filter(documents.doc_id.isin(wave)).coalesce(1).write.parquet(
            str(tmp_path / "docs" / f"wave={i}"))
    dims = load_dims(spark, os.path.dirname(fixture_paths["documents"]))
    q = getattr(streaming, starter)(
        spark, str(tmp_path / "docs" / "wave=*"), dims, str(tmp_path / "out"),
        str(tmp_path / "ck"), max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 2
    assert len(calls) == 1


def test_stateful_dedup_stream(spark, tmp_path_factory):
    """applyInPandasWithState cross-batch dedup: a duplicate document
    arriving in a LATER micro-batch is dropped by the keyed state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pathways2go_spark.datagen import DOCUMENTS_SCHEMA
    from pathways2go_spark.streaming import start_dedup_stream

    base = tmp_path_factory.mktemp("dedup_stream")
    src = base / "docs"
    src.mkdir()

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "pathway", "text": text,
                           "media_ref": "", "offset": 0}]}

    # batch file 1: A, B (plus an in-batch duplicate of A under another id)
    pq.write_table(pa.Table.from_pylist(
        [doc("doc-A", "alpha"), doc("doc-A2", "alpha"), doc("doc-B", "beta")],
        schema=DOCUMENTS_SCHEMA), str(src / "b1.parquet"))
    # batch file 2: duplicate of A's content + a new doc C
    pq.write_table(pa.Table.from_pylist(
        [doc("doc-A3", "alpha"), doc("doc-C", "gamma")],
        schema=DOCUMENTS_SCHEMA), str(src / "b2.parquet"))
    # the file source takes the oldest file first, and the two writes often
    # share a millisecond mtime: date b2 after b1 to make it batch two
    b1_mtime = (src / "b1.parquet").stat().st_mtime
    os.utime(src / "b2.parquet", (b1_mtime + 1, b1_mtime + 1))

    q = start_dedup_stream(
        spark, str(src), str(base / "out"), str(base / "ck"),
        max_files_per_trigger=1,  # force one file per micro-batch
    )
    q.awaitTermination(120)

    out = {(r.h, r.doc_id) for r in
           spark.read.parquet(str(base / "out")).collect()}
    kept = {doc_id for _, doc_id in out}
    # one survivor per content; in-batch tie broken to the min doc_id;
    # the later batch's doc-A3 swallowed by state
    assert len(out) == 3
    assert "doc-B" in kept and "doc-C" in kept
    assert "doc-A" in kept and "doc-A2" not in kept and "doc-A3" not in kept

    # restart with the same checkpoint: nothing new to emit (exactly-once)
    q2 = start_dedup_stream(
        spark, str(src), str(base / "out"), str(base / "ck"),
        max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(base / "out")).count() == 3


def test_stateful_dedup_stream_ttl(spark, tmp_path_factory):
    """state_ttl_ms bounds the seen-set: duplicates within the TTL window
    are still dropped exactly; a hash with no sightings for > TTL is
    evicted, and a re-arrival after eviction re-emits.

    Runs ONE long-lived query (processing-time trigger): in this image's
    pyspark build a timeout firing right after a checkpoint RESTART
    crashes the Python worker (documented in streaming.start_dedup_stream)
    — in-run timeouts, the production shape for a TTL'd stream, work."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pathways2go_spark.datagen import DOCUMENTS_SCHEMA
    from pathways2go_spark.streaming import start_dedup_stream

    base = tmp_path_factory.mktemp("dedup_ttl")
    src = base / "docs"
    src.mkdir()
    out, ck = str(base / "out"), str(base / "ck")

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "pathway", "text": text,
                           "media_ref": "", "offset": 0}]}

    def write(name, docs):
        pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_SCHEMA),
                       str(src / name))

    def rows():
        return {(r.h, r.doc_id)
                for r in spark.read.parquet(out).collect()}

    def await_docs(want, deadline=60):
        t0 = time.time()
        while time.time() - t0 < deadline:
            try:
                if {d for _, d in rows()} == want:
                    return
            except Exception:  # noqa: BLE001 — sink dir not created yet
                pass
            time.sleep(0.5)
        assert {d for _, d in rows()} == want

    # TTL must dwarf trigger/scheduling latency: empty triggers fire
    # expired timers promptly, so a TTL comparable to batch latency
    # would evict alpha before the duplicate batch lands
    ttl_ms = 12_000
    write("b1.parquet", [doc("doc-A", "alpha")])
    q = start_dedup_stream(spark, str(src), out, ck,
                           max_files_per_trigger=1, state_ttl_ms=ttl_ms,
                           processing_time="500 milliseconds")
    try:
        await_docs({"doc-A"})

        # duplicate within the (sliding) TTL window: dropped exactly —
        # b2's batch runs well inside the 12 s window of alpha's b1
        # sighting, and a group WITH data never fires hasTimedOut
        write("b2.parquet", [doc("doc-A2", "alpha"), doc("doc-B", "beta")])
        await_docs({"doc-A", "doc-B"})
        time.sleep(1)  # hold past the asserted batch to prove A2 never lands
        assert {d for _, d in rows()} == {"doc-A", "doc-B"}

        # idle past the TTL: empty triggers fire the expired timers and
        # evict alpha (and beta); doc-D proves the stream still flows
        time.sleep(ttl_ms / 1000 + 4)
        write("b3.parquet", [doc("doc-D", "delta")])
        await_docs({"doc-A", "doc-B", "doc-D"})

        # post-eviction re-arrival of alpha re-emits under the new
        # doc_id — the documented bounded-state trade-off
        write("b4.parquet", [doc("doc-A5", "alpha")])
        await_docs({"doc-A", "doc-B", "doc-D", "doc-A5"})
    finally:
        q.stop()

    final = rows()
    assert {d for _, d in final} == {"doc-A", "doc-B", "doc-D", "doc-A5"}
    alpha_hashes = {h for h, d in final if d in ("doc-A", "doc-A5")}
    assert len(alpha_hashes) == 1  # same content hash emitted twice


def test_read_stream_triples_missing_or_empty_path(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nostream"))
    assert read_stream_triples(spark, os.path.join(base, "never_written")) is None
    empty = os.path.join(base, "empty_out")
    os.makedirs(empty)
    assert read_stream_triples(spark, empty) is None


def test_windowed_metrics_watermark_drops_late(spark, tmp_path_factory):
    import datetime as dt
    import os

    from pathways2go_spark.streaming import start_windowed_metrics_stream

    base = str(tmp_path_factory.mktemp("winstream"))
    events, out, ckpt = (os.path.join(base, d) for d in ("ev", "out", "ck"))
    os.makedirs(events)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def ts(h, m):
        return dt.datetime(2026, 1, 1, h, m, 0)

    def write(name, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ])
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=schema
            ),
            os.path.join(events, name),
        )

    def run():
        q = start_windowed_metrics_stream(
            spark, events, out, ckpt,
            window="10 minutes", watermark="20 minutes",
        )
        q.awaitTermination(120)

    def emitted():
        try:
            return {
                (r.window_start.strftime("%H:%M"), r.event_type):
                    (r.n, r.sum_k)
                for r in spark.read.parquet(out).collect()
            }
        except Exception:  # noqa: BLE001 — no output yet
            return {}

    # on-time data: 3 rows in [12:00,12:10), 1 in [12:10,12:20), plus a
    # 12:45 clock row pushing the watermark to 12:25 > both window ends
    write("a.parquet", [
        (1, ts(12, 0), 1, "x", 0.0, '{"k": 1}'),
        (2, ts(12, 4), 1, "x", 0.0, '{"k": 2}'),
        (3, ts(12, 9), 2, "x", 0.0, '{"k": 3}'),
        (4, ts(12, 15), 1, "x", 0.0, '{"k": 7}'),
        (5, ts(12, 45), 9, "clk", 0.0, '{"k": 0}'),
    ])
    run()
    # a LATE row for the already-closed 12:00 window + a clock advance
    write("b.parquet", [
        (6, ts(12, 5), 3, "x", 0.0, '{"k": 100}'),
        (7, ts(13, 30), 9, "clk", 0.0, '{"k": 0}'),
    ])
    for _ in range(3):  # extra runs only flush state, never re-emit
        run()
        if ("12:00", "x") in emitted() and ("12:45", "clk") in emitted():
            break
    got = emitted()
    # closed windows emitted exactly once, WITHOUT the late row
    assert got[("12:00", "x")] == (3, 6)
    assert got[("12:10", "x")] == (1, 7)
    # the late row's window was already finalized: no second emission,
    # no updated count (parquet append would show a duplicate key)
    rows = spark.read.parquet(out).collect()
    keys = [(r.window_start, r.event_type) for r in rows]
    assert len(keys) == len(set(keys))


def test_snapshot_stream_versions_and_exactly_once(
    spark, documents, fixture_paths, tmp_path_factory
):
    """Streaming into the snapshot store: each micro-batch commits one
    snapshot; restart replays produce no duplicates; time travel to
    snapshot 1 sees exactly the first wave's triples."""
    from pathways2go_spark.sinks import read_as_of, snapshot_log
    from pathways2go_spark.streaming import start_snapshot_stream

    base = str(tmp_path_factory.mktemp("snap_stream"))
    docs_dir = os.path.join(base, "docs")
    store = os.path.join(base, "store")
    ck = os.path.join(base, "ck")
    os.makedirs(docs_dir)

    ids = sorted(r.doc_id for r in documents.select("doc_id").collect())
    half = ids[len(ids) // 2]
    wave_a = documents.filter(documents.doc_id <= half)
    wave_b = documents.filter(documents.doc_id > half)
    wave_a.coalesce(1).write.parquet(os.path.join(docs_dir, "wave=a"))

    dims = load_dims(spark, os.path.dirname(fixture_paths["documents"]))
    q = start_snapshot_stream(
        spark, f"{docs_dir}/wave=*", dims, store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    log1 = snapshot_log(spark, store).collect()
    assert [r["snapshot_id"] for r in log1] == [1]

    # second wave arrives; availableNow restart picks it up as batch 1
    wave_b.coalesce(1).write.parquet(os.path.join(docs_dir, "wave=b"))
    q = start_snapshot_stream(
        spark, f"{docs_dir}/wave=*", dims, store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    log2 = {r["snapshot_id"]: r for r in snapshot_log(spark, store).collect()}
    assert sorted(log2) == [1, 2] and log2[2]["parent"] == 1

    # time travel: AS OF 1 == the batch pipeline over wave A alone
    asof1 = read_as_of(spark, store, 1)
    batch_a = (
        run_pipeline(spark, wave_a, dims)
        .triples.select("model_id", "subj", "pred", "obj").distinct()
    )
    pr = precision_recall(asof1, batch_a)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr
    # full store == batch pipeline over the whole corpus
    full = read_as_of(spark, store, 2)
    batch_all = (
        run_pipeline(spark, documents, dims)
        .triples.select("model_id", "subj", "pred", "obj").distinct()
    )
    pr2 = precision_recall(full, batch_all)
    assert pr2["precision"] == 1.0 and pr2["recall"] == 1.0, pr2
    # restart with nothing new: no extra snapshots (exactly-once)
    q = start_snapshot_stream(
        spark, f"{docs_dir}/wave=*", dims, store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    assert sorted(
        r["snapshot_id"] for r in snapshot_log(spark, store).collect()
    ) == [1, 2]


def test_stream_stream_join_matches_batch_and_exactly_once(
    spark, tmp_path_factory
):
    """The attribution join: stream==batch equivalence on the emitted
    pairs, plus exactly-once across an availableNow restart. The range
    condition (r_ts within [l_ts, l_ts+10m]) is what bounds both
    sides' state; the test's no-match row proves it filters too."""
    import datetime as dt
    import os

    from pathways2go_spark.streaming import start_stream_stream_join

    base = str(tmp_path_factory.mktemp("ssjoin"))
    ldir, rdir, out, ckpt = (
        os.path.join(base, d) for d in ("l", "r", "out", "ck")
    )
    os.makedirs(ldir)
    os.makedirs(rdir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def ts(h, m):
        return dt.datetime(2026, 1, 1, h, m, 0)

    def write(dirname, name, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ])
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows], schema=schema
            ),
            os.path.join(dirname, name),
        )

    def run():
        q = start_stream_stream_join(
            spark, ldir, rdir, out, ckpt,
            watermark="20 minutes", max_lag="10 minutes",
        )
        q.awaitTermination(120)

    def emitted():
        try:
            return {
                (r.user_id, r.l_id, r.r_id)
                for r in spark.read.parquet(out).collect()
            }
        except Exception:  # noqa: BLE001 — no output yet
            return set()

    # clock rows use disjoint user ids (8 left / 9 right) so they only
    # advance the watermark, never join
    write(ldir, "a.parquet", [
        (1, ts(12, 0), 1, "view", 0.0, "{}"),
        (2, ts(12, 30), 1, "view", 0.0, "{}"),
        (3, ts(12, 5), 2, "view", 0.0, "{}"),
        (90, ts(13, 30), 8, "clk", 0.0, "{}"),
    ])
    write(rdir, "a.parquet", [
        (101, ts(12, 5), 1, "click", 0.0, "{}"),   # matches view 1
        (102, ts(12, 36), 1, "click", 0.0, "{}"),  # matches view 2
        (103, ts(12, 20), 2, "click", 0.0, "{}"),  # 15m after view 3: no
        (91, ts(13, 30), 9, "clk", 0.0, "{}"),
    ])
    want1 = {(1, 1, 101), (1, 2, 102)}
    for _ in range(4):  # extra runs flush watermark state, never re-emit
        run()
        if emitted() >= want1:
            break
    assert emitted() == want1

    # second wave + clock advance; restart picks it up from checkpoint
    write(ldir, "b.parquet", [
        (4, ts(14, 0), 3, "view", 0.0, "{}"),
        (92, ts(15, 30), 8, "clk", 0.0, "{}"),
    ])
    write(rdir, "b.parquet", [
        (104, ts(14, 8), 3, "click", 0.0, "{}"),
        (93, ts(15, 30), 9, "clk", 0.0, "{}"),
    ])
    want2 = want1 | {(3, 4, 104)}
    for _ in range(4):
        run()
        if emitted() >= want2:
            break
    assert emitted() == want2
    # exactly-once: parquet append across restarts shows no duplicates
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len({(r.user_id, r.l_id, r.r_id) for r in rows})

    # stream == batch: the same join over the files read as batch tables
    from pyspark.sql import functions as F

    bl = spark.read.parquet(ldir).select(
        F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts"),
        "user_id",
    )
    br = spark.read.parquet(rdir).select(
        F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts"),
        F.col("user_id").alias("r_user"),
    )
    batch = bl.join(
        br,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes")),
    )
    assert {
        (r.user_id, r.l_id, r.r_id) for r in batch.collect()
    } == emitted()


def test_hll_stream_equals_batch_and_exactly_once(
    spark, documents, tmp_path_factory
):
    """Streaming HLL fold == batch hll_distinct over everything
    streamed; a restart replays no batch (state unchanged) and a new
    wave folds in; state stays bounded by m registers."""
    from pathways2go_spark.sketches import HLL_M, hll_distinct
    from pathways2go_spark.streaming import read_hll_stream, start_hll_stream

    base = str(tmp_path_factory.mktemp("hll_stream"))
    docs_dir = os.path.join(base, "docs")
    store = os.path.join(base, "store")
    ck = os.path.join(base, "ck")
    os.makedirs(docs_dir)

    ids = sorted(r.doc_id for r in documents.select("doc_id").collect())
    half = ids[len(ids) // 2]
    wave_a = documents.filter(documents.doc_id <= half)
    wave_b = documents.filter(documents.doc_id > half)
    wave_a.coalesce(1).write.parquet(os.path.join(docs_dir, "wave=a"))

    q = start_hll_stream(
        spark, f"{docs_dir}/wave=*", store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    est1 = read_hll_stream(spark, store).first()
    batch1 = hll_distinct(wave_a.select("doc_id"), "doc_id").first()
    assert est1["hll_est"] == batch1["hll_est"]

    # restart with nothing new: no replays, identical state
    q = start_hll_stream(
        spark, f"{docs_dir}/wave=*", store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    assert read_hll_stream(spark, store).first()["hll_est"] == est1["hll_est"]

    # second wave folds in; stream state == batch sketch of the union
    wave_b.coalesce(1).write.parquet(os.path.join(docs_dir, "wave=b"))
    q = start_hll_stream(
        spark, f"{docs_dir}/wave=*", store, ck, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    est2 = read_hll_stream(spark, store).first()
    full = hll_distinct(documents.select("doc_id"), "doc_id").first()
    assert est2["hll_est"] == full["hll_est"]
    assert est2["n_regs"] <= HLL_M
