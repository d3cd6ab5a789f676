"""Resumable sink tests: idempotent bucketed write, lineage manifests,
and crash-resume producing output identical to a one-shot write."""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pathways2go_spark.sinks import (
    completed_buckets,
    read_triples,
    write_triples,
    write_ttl,
)


@pytest.fixture(scope="module")
def triples(default_run):
    return default_run.triples


def _key_set(df):
    return {
        (r["model_id"], r["subj"], r["pred"], r["obj"])
        for r in df.select("model_id", "subj", "pred", "obj").collect()
    }


def test_write_read_roundtrip(spark, triples, tmp_path):
    out = str(tmp_path / "sink")
    summary = write_triples(spark, triples, out, buckets=8)
    assert summary["skipped_buckets"] == []
    back = read_triples(spark, out)
    assert _key_set(back) == _key_set(triples)
    assert completed_buckets(spark, out) == set(summary["written_buckets"])
    # lineage manifests carry counts
    with open(os.path.join(out, "_lineage",
                           f"bucket={summary['written_buckets'][0]}.json")) as f:
        rec = json.load(f)
    assert rec["n_triples"] > 0 and rec["rule_counts"]


def test_crash_resume_is_identical(spark, triples, tmp_path):
    out_once = str(tmp_path / "once")
    write_triples(spark, triples, out_once, buckets=8)

    # simulate a crash mid-run: a full write whose last buckets never
    # completed (data dir + manifest missing for some, manifest missing
    # for one whose data landed)
    out_resume = str(tmp_path / "resume")
    s1 = write_triples(spark, triples, out_resume, buckets=8)
    victims = s1["written_buckets"][:3]
    for v in victims:
        os.remove(os.path.join(out_resume, "_lineage", f"bucket={v}.json"))
    for v in victims[:2]:
        shutil.rmtree(os.path.join(out_resume, "data", f"bucket={v}"))

    # resume: completed buckets skipped, victims rewritten
    s2 = write_triples(spark, triples, out_resume, buckets=8)
    assert set(s2["written_buckets"]) == set(victims)
    assert set(s2["skipped_buckets"]) == set(s1["written_buckets"]) - set(victims)

    a = _key_set(read_triples(spark, out_once))
    b = _key_set(read_triples(spark, out_resume))
    assert a == b
    # and the resumed store's manifests are byte-identical to the
    # one-shot store's
    lineage = lambda out: {  # noqa: E731
        p.name: p.read_bytes() for p in Path(out, "_lineage").glob("*.json")
    }
    assert lineage(out_resume) == lineage(out_once)


def test_resume_through_fs_api_uri(spark, triples, tmp_path):
    """The resume check goes through the Hadoop FileSystem API, not
    os.path.exists — exercised end-to-end through an explicit file:// URI
    (the scheme-qualified form HDFS/S3 paths take)."""
    out = "file://" + str(tmp_path / "fsuri")
    assert completed_buckets(spark, out) == set()  # missing -> empty, no raise
    s1 = write_triples(spark, triples, out, buckets=4)
    assert completed_buckets(spark, out) == set(s1["written_buckets"])
    s2 = write_triples(spark, triples, out, buckets=4)
    assert s2["written_buckets"] == []
    assert set(s2["skipped_buckets"]) == set(s1["written_buckets"])
    assert _key_set(read_triples(spark, out)) == _key_set(triples)


def test_skipped_buckets_not_rewritten(spark, triples, tmp_path):
    out = str(tmp_path / "idem")
    write_triples(spark, triples, out, buckets=4)
    s2 = write_triples(spark, triples, out, buckets=4)
    assert s2["written_buckets"] == []
    shutil.rmtree(out)


def test_ttl_roundtrip(spark, triples, tmp_path):
    """K1 TTL export: written per-model turtle lines parse back to the
    exact triple set (GoCAM.java:1873-1886 one-.ttl-per-pathway)."""
    from pathways2go_spark.sinks import parse_ttl_lines

    t = triples.select("model_id", "subj", "pred", "obj").distinct()
    out = str(tmp_path / "ttl")
    write_ttl(t, out)
    # one directory per model
    models = {r["model_id"] for r in t.select("model_id").distinct().collect()}
    dirs = {d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("model_id=")}
    assert dirs == models
    # the written files parse back to the triple set (read.text drops
    # the partition col; the model comes from the line itself)
    lines = spark.read.text(out).withColumnRenamed("value", "line")
    back = parse_ttl_lines(lines)
    assert _key_set(back) == _key_set(t)
    # every written line is a syntactically valid N-Triples line
    import re

    pat = re.compile(r'^<[^ >]+> <[^ >]+> (<[^ >]+>|"[^"]*") \.$')
    for r in lines.collect():
        assert pat.match(r["line"]), r["line"]


def test_write_triples_keeps_session_overwrite_mode(spark, tmp_path):
    """write_triples replaces its buckets with a per-write dynamic
    overwrite and leaves the session's mode as it was: a later static
    overwrite of a TTL export still clears the models the new triples
    lack."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    four = spark.createDataFrame(
        [(f"m{i}", "n1", "type", "GO_0003674", "", "A1") for i in range(4)],
        "model_id string, subj string, pred string, obj string, "
        "evidence string, rule string",
    )
    ttl = str(tmp_path / "ttl")
    write_ttl(four, ttl)
    write_triples(spark, four, str(tmp_path / "sink"), buckets=2)
    write_ttl(four.filter(F.col("model_id") == "m0"), ttl)
    assert sorted(d for d in os.listdir(ttl) if d.startswith("model_id=")) \
        == ["model_id=m0"]
    assert spark.conf.get(key) == before


def test_ttl_literal_escaping(spark):
    """Quotes and backslashes in literal objects survive the round trip."""
    from pathways2go_spark.sinks import parse_ttl_lines, ttl_lines

    df = spark.createDataFrame(
        [("m1", "n1", "exactMatch", 'we"ird\\ref'),
         ("m1", "n1", "label", "plain label"),
         ("m1", "n1", "type", "GO_0003674"),
         ("m1", "n1", "RO_0002333", "n2")],
        ["model_id", "subj", "pred", "obj"],
    )
    back = parse_ttl_lines(ttl_lines(df))
    assert _key_set(back) == _key_set(df)


def test_merge_snapshot_upsert_delete_insert(spark):
    from pathways2go_spark.sinks import merge_snapshot

    base = spark.createDataFrame(
        [("m1", "a", 1), ("m1", "b", 2), ("m2", "a", 3)],
        ["model_id", "subj", "v"],
    )
    changes = spark.createDataFrame(
        [
            ("m1", "a", 10, "U"),   # update existing
            ("m1", "b", 2, "D"),    # delete existing
            ("m3", "z", 99, "U"),   # insert brand-new key
            ("m9", "x", 0, "D"),    # delete of a missing key: no-op
        ],
        ["model_id", "subj", "v", "op"],
    )
    out = sorted(
        map(tuple, merge_snapshot(base, changes,
                                  ["model_id", "subj"]).collect())
    )
    assert out == [("m1", "a", 10), ("m2", "a", 3), ("m3", "z", 99)]

    import pytest

    with pytest.raises(ValueError):
        merge_snapshot(base, changes.drop("subj"), ["model_id", "subj"])


def test_snapshot_log_time_travel_and_resume(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from pathways2go_spark.sinks import (
        append_snapshot,
        read_as_of,
        snapshot_log,
    )

    store = str(tmp_path / "snaps")
    a = spark.range(10).select(F.col("id").alias("v"))
    b = spark.range(10, 25).select(F.col("id").alias("v"))
    c = spark.range(25, 27).select(F.col("id").alias("v"))
    m1 = append_snapshot(a, store, 1)
    m2 = append_snapshot(b, store, 2, parent=1)
    append_snapshot(c, store, 3, parent=2)
    assert m1["n_rows"] == 10 and m2["parent"] == 1
    # time travel: AS OF 2 sees snapshots 1+2 only
    got2 = sorted(r["v"] for r in read_as_of(spark, store, 2).collect())
    assert got2 == list(range(25))
    got3 = read_as_of(spark, store, 3).count()
    assert got3 == 27
    # snapshot log cumulates
    log = {r["snapshot_id"]: r for r in snapshot_log(spark, store).collect()}
    assert log[1]["cum_rows"] == 10
    assert log[2]["cum_rows"] == 25 and log[2]["parent"] == 1
    assert log[3]["cum_rows"] == 27
    # resume: re-appending an existing snapshot id is a no-op even with
    # different data (the manifest short-circuits)
    m2b = append_snapshot(a, store, 2, parent=1)
    assert m2b["n_rows"] == 15
    assert read_as_of(spark, store, 2).count() == 25
    # crash safety: a data dir without its manifest is invisible
    # (manifest-last commit order) and the retry completes it
    os.remove(os.path.join(store, "_snapshots", "3.json"))
    log2 = snapshot_log(spark, store)
    assert log2.filter(F.col("snapshot_id") == 3).count() == 0
    try:
        read_as_of(spark, store, 3)
        raise AssertionError("snapshot 3 should be unknown after crash")
    except ValueError:
        pass
    append_snapshot(c, store, 3, parent=2)
    assert read_as_of(spark, store, 3).count() == 27


def test_compact_store_preserves_content_and_resumes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pathways2go_spark.sinks import (
        append_snapshot,
        compact_store,
        read_as_of,
    )

    store = str(tmp_path / "c")
    for i in range(1, 5):
        append_snapshot(
            spark.range((i - 1) * 10, i * 10).select(F.col("id").alias("v")),
            store, i, parent=None if i == 1 else i - 1,
        )
    before = sorted(r["v"] for r in read_as_of(spark, store, 4).collect())
    m = compact_store(spark, store, target_rows=15)
    assert m["compacted"] and m["replaces"] == [1, 2, 3, 4]
    assert m["n_rows"] == 40
    after = sorted(r["v"] for r in read_as_of(spark, store, 4).collect())
    assert after == before == list(range(40))
    # the compacted read resolves to ONE data dir (chain cut), and the
    # file count matches the target sizing (ceil(40/15) = 3)
    import glob
    import os

    files = glob.glob(os.path.join(store, "data", "compact=4", "*.parquet"))
    assert len(files) == 3
    # earlier snapshots still time-travel through their own manifests
    assert sorted(r["v"] for r in read_as_of(spark, store, 2).collect()) == list(range(20))
    # idempotent re-run
    m2 = compact_store(spark, store, target_rows=15)
    assert m2 == m


def test_expire_snapshots_semantics(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from pathways2go_spark.sinks import (
        append_snapshot,
        compact_store,
        expire_snapshots,
        read_as_of,
    )

    store = str(tmp_path / "e")
    for i in range(1, 5):
        append_snapshot(
            spark.range((i - 1) * 10, i * 10).select(F.col("id").alias("v")),
            store, i, parent=None if i == 1 else i - 1,
        )
    # refuses while surviving snapshots still read through old history
    with pytest.raises(ValueError, match="compact first"):
        expire_snapshots(spark, store, keep_from=3)
    compact_store(spark, store, target_rows=100)
    res = expire_snapshots(spark, store, keep_from=4)
    # manifests 1-3 gone; their data dirs AND the head's orphaned
    # pre-compact dir swept
    assert res["removed_manifests"] == [1, 2, 3]
    assert len(res["removed_dirs"]) == 4
    assert sorted(r["v"] for r in read_as_of(spark, store, 4).collect()) \
        == list(range(40))
    with pytest.raises(ValueError, match="unknown snapshot"):
        read_as_of(spark, store, 2)
    # only the compacted data dir remains on disk
    import os

    assert os.listdir(os.path.join(store, "data")) == ["compact=4"]
    # idempotent: nothing further to remove
    res2 = expire_snapshots(spark, store, keep_from=4)
    assert res2 == {"removed_manifests": [], "removed_dirs": []}
