"""K1/K2/K3 — partitioned, idempotent, resumable triple sink + lineage.

Reference: Turtle writer (GoCAM.java:1873-1886), Blazegraph named-graph
loader keyed by model IRI (Blazer.java:82-108), per-model report maps
(GoMappingReport.java). Here the persistent store IS a partitioned table:
model_id is bucketed into a fixed number of hash buckets (the Iceberg
layout would be `bucket(N, model_id)`; this image has no Iceberg jars so
the same layout is expressed as a parquet partition column).

Resume contract (north rule: "resumable from checkpoint with
per-partition lineage"): every successful bucket write records a lineage
manifest row (bucket, n_models, n_triples, per-rule counts). A re-run
skips buckets already present in the manifest and rewrites only the
missing ones — node ids are content-keyed (vocab.py), so a resumed write
is byte-identical to a one-shot write.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _with_bucket(triples: DataFrame, buckets: int) -> DataFrame:
    return triples.withColumn(
        "bucket", F.pmod(F.xxhash64("model_id"), F.lit(buckets)).cast("int")
    )


def _lineage_path(path: str) -> str:
    return path.rstrip("/") + "/_lineage"


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) through the Hadoop FS API — the sink must
    behave identically on local disk, HDFS and S3 (same treatment the
    streaming read-back got, streaming.py read_stream_triples)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def _fs_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    fs, p = _hadoop_fs(spark, path_str)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path_str: str) -> str:
    fs, p = _hadoop_fs(spark, path_str)
    inp = fs.open(p)
    try:
        return bytes(inp.readAllBytes()).decode("utf-8")
    finally:
        inp.close()


def completed_buckets(spark: SparkSession, path: str) -> set[int]:
    lp = _lineage_path(path)
    fs, p = _hadoop_fs(spark, lp)
    # FS-API existence check, NOT os.path.exists: on HDFS/S3 a local-path
    # check is always False and resume would silently degrade to a full
    # rewrite every run
    if not fs.exists(p):
        return set()
    rows = spark.read.json(lp).select("bucket").distinct().collect()
    return {r["bucket"] for r in rows}


def write_triples(
    spark: SparkSession,
    triples: DataFrame,
    path: str,
    buckets: int = 16,
    resume: bool = True,
) -> dict:
    """Idempotent bucketed write. Returns a summary of what was written
    vs skipped. Data layout: path/data/bucket=N/*.parquet, manifest rows
    at path/_lineage/bucket=N.json, counted by one aggregate over the
    buckets that landed. Dynamic overwrite is an option of this write
    alone; the session's partitionOverwriteMode is left as it was."""
    done = sorted(completed_buckets(spark, path)) if resume else []
    unfinished = ~F.col("bucket").isin(done)
    data = os.path.join(path, "data")
    t = _with_bucket(triples, buckets).filter(unfinished)
    t.write.partitionBy("bucket").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic").parquet(data)
    # every bucket outside `done` was just rewritten, so under the resume
    # contract (a re-run of the same input) the read-back holds exactly
    # this write's rows; the write's schema spares an inference job and
    # reads a first write of no rows back as no rows
    manifest = (
        spark.read.schema(t.schema).parquet(data).filter(unfinished)
        .groupBy("bucket", "rule")
        .agg(F.count("*").alias("n"), F.collect_set("model_id").alias("models"))
        .groupBy("bucket")
        .agg(F.size(F.array_distinct(F.flatten(F.collect_list("models"))))
             .alias("n_models"),
             F.sum("n").alias("n_triples"),
             F.map_from_entries(F.collect_list(F.struct("rule", "n")))
             .alias("rule_counts"))
        .collect()
    )
    for r in manifest:
        # FS-API write (parents auto-created), next to the data on whatever
        # filesystem the sink targets; keys sorted because rule_counts'
        # order comes from collect_list
        _fs_write_text(spark, f"{_lineage_path(path)}/bucket={r['bucket']}.json",
                       json.dumps(r.asDict(), sort_keys=True))
    return {"written_buckets": sorted(r["bucket"] for r in manifest),
            "skipped_buckets": done}


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "data"))


# ----------------------------------------------------------------------
# K1 optional TTL export — the reference's primary output artifact is one
# .ttl file per pathway model (GoCAM.java:1873-1886 writeGoCAM, turtle
# format; QRunner.java:919-928). Formatting is pure Column expressions
# (JVM-side, codegen'd); the writer partitions by model_id so each model
# lands in its own directory, mirroring one-file-per-pathway.
# ----------------------------------------------------------------------

OBO = "http://purl.obolibrary.org/obo/"
MODEL_BASE = "http://model.geneontology.org/"
REACTO_BASE = "http://purl.obolibrary.org/obo/go/extensions/reacto.owl#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SKOS_EXACT = "http://www.w3.org/2004/02/skos/core#exactMatch"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


def _class_iri(col: Column) -> Column:
    """CURIE -> class IRI (OBO classes, identifiers.org gene products,
    REACTO extension classes — the reference's IRI bases, GoCAM.java:
    289-387)."""
    return (
        F.when(col.startswith("UniProtKB_"),
               F.concat(F.lit("http://identifiers.org/uniprot/"),
                        F.substring(col, 11, 10_000)))
        .when(col.startswith("SGD_"),
              F.concat(F.lit("http://identifiers.org/sgd/"),
                       F.substring(col, 5, 10_000)))
        .when(col.startswith("ENSEMBL_"),
              F.concat(F.lit("http://identifiers.org/ensembl/"),
                       F.substring(col, 9, 10_000)))
        .when(col.startswith("REACTO_"),
              F.concat(F.lit(REACTO_BASE), F.substring(col, 8, 10_000)))
        .otherwise(F.concat(F.lit(OBO), col))
    )


def _escape_literal(col: Column) -> Column:
    bs = "\\"
    return F.replace(F.replace(col, F.lit(bs), F.lit(bs + bs)),
                     F.lit('"'), F.lit(bs + '"'))


def ttl_lines(triples: DataFrame) -> DataFrame:
    """(model_id, line): one N-Triples line (a valid Turtle subset) per
    triple. Individuals get model-scoped IRIs ({MODEL_BASE}{model}/{id});
    rdf:type objects map through _class_iri; exactMatch/label objects are
    escaped string literals."""
    ind = lambda c: F.concat(  # noqa: E731
        F.lit("<" + MODEL_BASE), F.col("model_id"), F.lit("/"), c, F.lit(">")
    )
    pred = (
        F.when(F.col("pred") == "type", F.lit(f"<{RDF_TYPE}>"))
        .when(F.col("pred") == "exactMatch", F.lit(f"<{SKOS_EXACT}>"))
        .when(F.col("pred") == "label", F.lit(f"<{RDFS_LABEL}>"))
        .otherwise(F.concat(F.lit("<" + OBO), F.col("pred"), F.lit(">")))
    )
    obj = (
        F.when(F.col("pred") == "type",
               F.concat(F.lit("<"), _class_iri(F.col("obj")), F.lit(">")))
        .when(F.col("pred").isin("exactMatch", "label"),
              F.concat(F.lit('"'), _escape_literal(F.col("obj")), F.lit('"')))
        .otherwise(ind(F.col("obj")))
    )
    return triples.select(
        "model_id",
        F.concat_ws(" ", ind(F.col("subj")), pred, obj, F.lit(".")).alias("line"),
    )


def write_ttl(triples: DataFrame, path: str) -> None:
    """One named-graph directory per model_id (path/model_id=<id>/*.txt,
    turtle-parsable lines). At corpus scale swap partitionBy for the
    bucketed layout of write_triples; per-model files mirror the
    reference's one-.ttl-per-pathway contract."""
    ttl_lines(triples).write.partitionBy("model_id").mode("overwrite").text(path)


def parse_ttl_lines(lines: DataFrame) -> DataFrame:
    """Inverse of ttl_lines for round-trip verification: re-derives
    (model_id, subj, pred, obj) in the CURIE vocabulary."""
    s_iri = F.regexp_extract("line", r"^<([^>]*)> ", 1)
    p_iri = F.regexp_extract("line", r"^<[^>]*> <([^>]*)> ", 1)
    o_rest = F.regexp_extract("line", r"^<[^>]*> <[^>]*> (.*) \.$", 1)
    model = F.regexp_extract(s_iri, MODEL_BASE + r"([^/]*)/", 1)
    subj = F.regexp_extract(s_iri, MODEL_BASE + r"[^/]*/(.*)", 1)
    pred = (
        F.when(p_iri == RDF_TYPE, F.lit("type"))
        .when(p_iri == SKOS_EXACT, F.lit("exactMatch"))
        .when(p_iri == RDFS_LABEL, F.lit("label"))
        .otherwise(F.regexp_replace(p_iri, "^" + OBO, ""))
    )
    o_iri = F.regexp_extract(o_rest, r"^<(.*)>$", 1)
    o_lit = F.regexp_extract(o_rest, r'^"(.*)"$', 1)
    bs = "\\"
    obj = F.when(
        o_rest.startswith('"'),
        F.replace(F.replace(o_lit, F.lit(bs + '"'), F.lit('"')),
                  F.lit(bs + bs), F.lit(bs)),
    ).otherwise(
        F.when(o_iri.startswith(MODEL_BASE),
               F.regexp_extract(o_iri, MODEL_BASE + r"[^/]*/(.*)", 1))
        .when(o_iri.startswith("http://identifiers.org/uniprot/"),
              F.concat(F.lit("UniProtKB_"), F.substring(o_iri, 32, 10_000)))
        .when(o_iri.startswith("http://identifiers.org/sgd/"),
              F.concat(F.lit("SGD_"), F.substring(o_iri, 28, 10_000)))
        .when(o_iri.startswith("http://identifiers.org/ensembl/"),
              F.concat(F.lit("ENSEMBL_"), F.substring(o_iri, 32, 10_000)))
        .when(o_iri.startswith(REACTO_BASE),
              F.concat(F.lit("REACTO_"),
                       F.substring(o_iri, len(REACTO_BASE) + 1, 10_000)))
        .otherwise(F.regexp_replace(o_iri, "^" + OBO, ""))
    )
    return lines.select(
        model.alias("model_id"), subj.alias("subj"),
        pred.alias("pred"), obj.alias("obj"),
    )


def merge_snapshot(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Row-level MERGE into a keyed snapshot — the Iceberg `MERGE INTO`
    copy-on-write shape, expressed over plain DataFrames (this image has
    no Iceberg jars; on a real deployment the result writes back through
    write_triples' bucketed layout and the lineage manifest versions the
    snapshot).

    `changes` carries the base columns plus `op_col`: 'U' upserts the
    row (update when the key exists, insert when it does not), 'D'
    deletes the key. Semantics per key: every changed key leaves the
    base (one anti join), then upsert rows come back — so an update
    replaces, a delete vanishes, and an unmatched 'D' is a no-op,
    exactly MERGE WHEN MATCHED/NOT MATCHED.

    Scale shape: ONE shuffle on `keys` for the anti join (broadcast when
    the change set is small — AQE decides), plus a union that needs no
    exchange. With the base bucketed by key (write_triples) the anti
    join co-locates and only touched buckets rewrite — Iceberg's
    copy-on-write file pruning. The merge-on-read alternative (emit the
    change set as delete/data files, reconcile at scan) is this same
    function applied lazily at read time.
    """
    for k in keys:
        if k not in base.columns or k not in changes.columns:
            raise ValueError(f"merge_snapshot: key {k!r} missing")
    ups = changes.filter(F.col(op_col) == "U").drop(op_col)
    kept = base.join(changes.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(ups)


# ----------------------------------------------------------------------
# Iceberg-style snapshot log: append-only table versions + time travel
# ----------------------------------------------------------------------
#
# The north-star deployment materializes the KG into Iceberg tables;
# this image has no Iceberg jars, so the same METADATA CONTRACT is
# expressed directly: every append writes its data files under an
# immutable snapshot directory and commits one manifest JSON recording
# (snapshot_id, parent, row/file counts). Readers resolve a snapshot id
# to its ancestor chain and scan exactly those directories — Iceberg's
# time travel (`VERSION AS OF`) — in ONE multi-path parquet scan.
# Commits are atomic at manifest granularity (data first, manifest
# last), so a crashed append leaves no visible snapshot and a re-run is
# idempotent: an existing manifest short-circuits the write.


def _snap_dir(path: str, snapshot_id: int) -> str:
    return f"{path.rstrip('/')}/data/snap={int(snapshot_id)}"


def _manifest_path(path: str, snapshot_id: int) -> str:
    return f"{path.rstrip('/')}/_snapshots/{int(snapshot_id)}.json"


def append_snapshot(
    df: DataFrame,
    path: str,
    snapshot_id: int,
    parent: int | None = None,
) -> dict:
    """Append `df` as snapshot `snapshot_id` (immutable). Write order is
    crash-safe: data files land first, the manifest commits last — a
    failure in between leaves an orphan data dir that the next run
    overwrites, never a readable-but-incomplete snapshot. Re-appending
    an existing snapshot id is a no-op (resume semantics, same contract
    as write_triples' completed_buckets)."""
    spark = df.sparkSession
    mp = _manifest_path(path, snapshot_id)
    fs, p = _hadoop_fs(spark, mp)
    if fs.exists(p):
        return json.loads(_fs_read_text(spark, mp))
    dd = _snap_dir(path, snapshot_id)
    df.write.mode("overwrite").parquet(dd)
    n_rows = spark.read.parquet(dd).count()
    manifest = {
        "snapshot_id": int(snapshot_id),
        "parent": None if parent is None else int(parent),
        "n_rows": int(n_rows),
        "data_dir": dd,
    }
    _fs_write_text(spark, mp, json.dumps(manifest, sort_keys=True))
    return manifest


def _read_manifests(spark: SparkSession, path: str) -> list[dict]:
    md = f"{path.rstrip('/')}/_snapshots"
    fs, p = _hadoop_fs(spark, md)
    if not fs.exists(p):
        return []
    out = [json.loads(_fs_read_text(spark, st.getPath().toString()))
           for st in fs.listStatus(p) if st.getPath().getName().endswith(".json")]
    return sorted(out, key=lambda m: m["snapshot_id"])


def snapshot_log(spark: SparkSession, path: str) -> DataFrame:
    """The table's version history as a DataFrame:
    (snapshot_id, parent, n_rows, cum_rows) — Iceberg's
    `table.snapshots` metadata view."""
    ms = _read_manifests(spark, path)
    rows, cum = [], 0
    for m in ms:
        cum += m["n_rows"]
        rows.append((m["snapshot_id"], m["parent"], m["n_rows"], cum))
    return spark.createDataFrame(
        rows or [(None, None, None, None)],
        "snapshot_id int, parent int, n_rows long, cum_rows long",
    ).filter(F.col("snapshot_id").isNotNull())


def read_as_of(spark: SparkSession, path: str, snapshot_id: int) -> DataFrame:
    """Time travel: the table AS OF `snapshot_id` — the union of that
    snapshot's ancestor chain, resolved from manifests (driver-side,
    O(snapshots)) into ONE multi-path parquet scan; no per-snapshot
    union nodes, so partition pruning and split planning see the whole
    file set at once."""
    ms = {m["snapshot_id"]: m for m in _read_manifests(spark, path)}
    if snapshot_id not in ms:
        raise ValueError(f"unknown snapshot {snapshot_id} under {path}")
    chain, cur = [], snapshot_id
    while cur is not None:
        m = ms[cur]
        chain.append(m["data_dir"])
        cur = m["parent"]
    return spark.read.parquet(*sorted(chain))


def compact_store(
    spark: SparkSession,
    path: str,
    target_rows: int,
    max_snapshot: int | None = None,
) -> dict:
    """Iceberg-style `rewrite_data_files`: physically merge the ancestor
    chain's many small snapshot directories into one size-balanced data
    layout WITHOUT changing logical content — the small-files compaction
    every streaming-ingest table eventually needs (start_snapshot_stream
    commits one snapshot per micro-batch; a month of 1-minute batches is
    43k tiny directories and a split-planning tax on every read).

    Writes the union of snapshots <= `max_snapshot` (default: the chain
    head) as data dirs `data/compact=<head>/` repartitioned to
    ceil(total_rows / target_rows) files, then commits a manifest for
    snapshot id `head` with `"compacted": true` and `"replaces": [ids]`.
    read_as_of resolves a compacted manifest to its single data dir —
    the ancestor chain is cut there, so time travel to ids <= head keeps
    working only through their own (still present) manifests; nothing is
    deleted (Iceberg's expire_snapshots is a separate, destructive
    decision).

    Crash-safe like append_snapshot: data first, manifest last; a re-run
    with the same head is a no-op. Returns the new manifest."""
    ms = _read_manifests(spark, path)
    if not ms:
        raise ValueError(f"no snapshots under {path}")
    chain = [m for m in ms
             if max_snapshot is None or m["snapshot_id"] <= max_snapshot]
    head = chain[-1]["snapshot_id"]
    mp = _manifest_path(path, head)
    old = json.loads(_fs_read_text(spark, mp))
    if old.get("compacted"):
        return old
    df = spark.read.parquet(*sorted(m["data_dir"] for m in chain))
    n_rows = df.count()
    n_files = max(1, -(-n_rows // int(target_rows)))
    dd = f"{path.rstrip('/')}/data/compact={head}"
    df.repartition(n_files).write.mode("overwrite").parquet(dd)
    manifest = {
        "snapshot_id": int(head),
        "parent": None,
        "n_rows": int(n_rows),
        "data_dir": dd,
        "compacted": True,
        "replaces": [int(m["snapshot_id"]) for m in chain],
    }
    _fs_write_text(spark, mp, json.dumps(manifest, sort_keys=True))
    return manifest


def expire_snapshots(spark: SparkSession, path: str, keep_from: int) -> dict:
    """Iceberg's `expire_snapshots`: DESTRUCTIVELY drop snapshot history
    older than `keep_from` — manifests AND their data directories — then
    sweep data dirs no remaining manifest references (Iceberg's
    remove_orphan_files; compaction leaves the head's pre-compact data
    dir orphaned because compact_store rewrites the head manifest in
    place).

    Safety contract: refuses unless snapshot `keep_from` still resolves
    AFTER expiry, i.e. its ancestor chain has been cut at or above
    `keep_from` by a compaction — expiring history that a surviving
    manifest still reads through would corrupt the store, so that is an
    error, not a partial delete. Time travel to ids < keep_from raises
    `unknown snapshot` afterwards, by design.

    Returns {"removed_manifests": [...], "removed_dirs": [...]}. All FS
    traffic goes through the Hadoop FileSystem API (local/HDFS/S3
    alike); driver-side, O(snapshots) operations."""
    ms = _read_manifests(spark, path)
    by_id = {m["snapshot_id"]: m for m in ms}
    if keep_from not in by_id:
        raise ValueError(f"unknown snapshot {keep_from} under {path}")
    # every surviving snapshot's chain must stay resolvable
    needed: set[int] = set()
    for m in ms:
        if m["snapshot_id"] < keep_from:
            continue
        cur: int | None = m["snapshot_id"]
        while cur is not None:
            if cur < keep_from:
                raise ValueError(
                    f"snapshot {m['snapshot_id']} still reads through "
                    f"{cur} < keep_from={keep_from}; compact first "
                    "(compact_store) so the chain is cut"
                )
            needed.add(cur)
            cur = by_id[cur]["parent"]
    removed_manifests, removed_dirs = [], []
    for m in ms:
        if m["snapshot_id"] >= keep_from:
            continue
        fs, dp = _hadoop_fs(spark, m["data_dir"])
        if fs.exists(dp):
            fs.delete(dp, True)
            removed_dirs.append(
                m["data_dir"].rstrip("/").rsplit("/", 1)[-1]
            )
        mp = _manifest_path(path, m["snapshot_id"])
        fs, pp = _hadoop_fs(spark, mp)
        if fs.exists(pp):
            fs.delete(pp, False)
            removed_manifests.append(m["snapshot_id"])
    # orphan sweep: data dirs no surviving manifest references (every
    # data dir — snapshot or compaction — is a direct child of
    # {path}/data, so the basename identifies it)
    referenced = {
        by_id[i]["data_dir"].rstrip("/").rsplit("/", 1)[-1]
        for i in needed
    }
    dd_root = f"{path.rstrip('/')}/data"
    fs, root = _hadoop_fs(spark, dd_root)
    if fs.exists(root):
        for st in fs.listStatus(root):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if name not in referenced:
                fs.delete(st.getPath(), True)
                removed_dirs.append(name)
    return {
        "removed_manifests": sorted(removed_manifests),
        "removed_dirs": sorted(removed_dirs),
    }
