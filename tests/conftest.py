from __future__ import annotations

import os

import pytest

from pathways2go_spark.datagen import ensure_fixture
from pathways2go_spark.session import get_spark

FIXTURE_DIR = "/tmp/p2g_fixture_small"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="p2g_tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_paths():
    return ensure_fixture(FIXTURE_DIR, replicas=1)


@pytest.fixture(scope="session")
def documents(spark, fixture_paths):
    from pathways2go_spark.ingest import read_documents

    return read_documents(spark, fixture_paths["documents"])


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def default_run(spark, documents, fixture_paths):
    """run_pipeline on the golden fixture at its default thresholds: the
    reference run of the golden tests and of every routing-seam test."""
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.pipeline import run_pipeline

    res = run_pipeline(spark, documents, load_dims(spark, FIXTURE_DIR))
    res.triples.cache().count()
    return res


def routing_seams(spark, documents):
    """The golden fixture's routing seams: (m, mid, bm) = its largest doc
    span count, the median span count and the largest stage-A model
    triple count."""
    import pyspark.sql.functions as F

    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.ingest import ingest
    from pathways2go_spark.stage_a import extract

    spans = sorted(r[0] for r in documents.select(F.size("spans")).collect())
    m, mid = spans[-1], spans[len(spans) // 2]
    assert spans[0] <= 3 < mid < m
    elements, links = ingest(documents)
    bm = max(
        r[0] for r in extract(elements, links, load_dims(spark, FIXTURE_DIR))
        .triples.groupBy("model_id").count().select("count").collect()
    )
    return m, mid, bm


def assert_routing_cases(spark, documents, reference, cases):
    """The two size thresholds are pure physical-plan switches: each
    (span_threshold, local_threshold) case must give the reference run's
    triple and audit sets."""
    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.pipeline import run_pipeline

    def sets(res):
        return (
            {tuple(r) for r in res.triples
             .select("model_id", "subj", "pred", "obj").collect()},
            {tuple(r) for r in res.audit
             .select("rule", "model_id", "reaction", "detail").collect()},
        )

    ref = sets(reference)
    assert ref[0] and ref[1], "golden fixture produced no triples or audit rows"
    dims = load_dims(spark, FIXTURE_DIR)
    for span_threshold, local_threshold in cases:
        got = sets(run_pipeline(
            spark, documents, dims, span_threshold=span_threshold,
            local_threshold=local_threshold,
        ))
        case = f"span_threshold={span_threshold}, local_threshold={local_threshold}"
        assert got[0] == ref[0], f"{case} changed the triple set"
        assert got[1] == ref[1], f"{case} changed the audit set"
