"""G1-G8 — report/analytics aggregations over the emitted triple corpus.

Reference: the SPARQL SELECT workload (get_pathways/get_functions/... .rq,
QRunner.java:173-283; GoCAM.java:390-435; Manuscript.java:53-80) — the
engine's query layer, mapped 1:1 to DataFrame aggregations over the
partitioned triples table.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .dims import ROOTS, type_rows, typed


def nodes_by_root(t: DataFrame, ancestors: DataFrame, root: str) -> DataFrame:
    """G1/G2: nodes typed by any class in the closure of `root`
    (subClassOf* listing, get_pathways.rq / get_functions.rq)."""
    closure = ancestors.filter(F.col("ancestor_iri") == root).select(
        F.col("class_iri").alias("cls")
    )
    return (
        type_rows(t).join(F.broadcast(closure), "cls")
        .select("model_id", "node", "cls")
        .distinct()
    )


def relation_counts(t: DataFrame) -> DataFrame:
    """G3: causal/functional edge counts by relation
    (get_function_relations.rq)."""
    return (
        t.filter(F.col("pred").isin(V.EDGE_PREDS))
        .groupBy("pred")
        .agg(F.count("*").alias("n"))
    )


def component_locations(t: DataFrame) -> DataFrame:
    """G4: distinct occurs_in location classes per model (get_components.rq)."""
    occ = t.filter(F.col("pred") == V.OCCURS_IN).select(
        "model_id", F.col("obj").alias("node")
    )
    return (
        occ.join(type_rows(t), ["model_id", "node"])
        .select("model_id", F.col("cls").alias("location_cls"))
        .distinct()
    )


def xref_map(t: DataFrame) -> DataFrame:
    """G5: node -> exactMatch xref multimap (getThingAnnoMap)."""
    return (
        t.filter(F.col("pred") == V.EXACT)
        .groupBy("model_id", F.col("subj").alias("node"))
        .agg(F.sort_array(F.collect_set("obj")).alias("xrefs"))
    )


def count_unclassified(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """G6: per model, nodes with no GO/CHEBI-rooted type (GoCAM.java:390-435)."""
    return (
        typed(t, ancestors).groupBy("model_id", "node")
        .agg(F.max(reduce(operator.or_, map(F.col, ROOTS))).alias("rooted"))
        .filter(~F.col("rooted"))
        .groupBy("model_id")
        .agg(F.count("*").alias("n_unclassified"))
    )


def untyped_reactions(t: DataFrame) -> DataFrame:
    """G7: molecular_event reactions with their concatenated io
    (query2find_untyped.rq GROUP_CONCAT)."""
    me = type_rows(t).filter(F.col("cls") == V.MOLECULAR_EVENT).select(
        "model_id", F.col("node").alias("reaction")
    )
    io = t.filter(F.col("pred").isin(V.HAS_INPUT, V.HAS_OUTPUT)).select(
        "model_id", F.col("subj").alias("reaction"), "pred", F.col("obj").alias("e")
    )
    return (
        me.join(io, ["model_id", "reaction"], "left")
        .groupBy("model_id", "reaction")
        .agg(
            F.concat_ws(",", F.sort_array(
                F.collect_set(F.when(F.col("pred") == V.HAS_INPUT, F.col("e"))))
            ).alias("inputs"),
            F.concat_ws(",", F.sort_array(
                F.collect_set(F.when(F.col("pred") == V.HAS_OUTPUT, F.col("e"))))
            ).alias("outputs"),
        )
    )


def corpus_summary(t: DataFrame) -> DataFrame:
    """G8: cross-model rollup (the Manuscript.java whole-journal shape)."""
    return t.groupBy("model_id").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct(F.when(F.col("pred") == V.TYPE, F.col("subj"))).alias("n_typed_nodes"),
        F.sum((F.col("pred") == V.CAUSALLY_UPSTREAM).cast("long")).alias("n_causal"),
        F.sum((F.col("pred") == V.PROVIDES_INPUT).cast("long")).alias("n_provides_input"),
        F.sum((F.col("pred") == V.ENABLED_BY).cast("long")).alias("n_enabled_by"),
    )


def gpad_compare(exported: DataFrame, reference: DataFrame) -> DataFrame:
    """K4b — diff the GPAD export against an existing annotation set
    (ReactomeGPAD.java:177-194 compareAnnotations): set overlap on the
    annotation key, then for reference-only rows whether the gene id has
    ANY exported annotation at all (the reference's n_id_present /
    n_id_missing split).

    Output: one row per distinct annotation key with
      status         'overlap' | 'missing' (reference-only) |
                     'extra' (export-only)
      gene_in_export whether db_object_id appears anywhere in the export.
    Both inputs are keyed streams; the diff is one full-outer shuffle on
    the annotation key plus a broadcast-size distinct gene-id join."""
    key = ["db", "db_object_id", "qualifier", "go_id", "reference"]
    e = exported.select(*key).distinct().withColumn("in_export", F.lit(True))
    r = reference.select(*key).distinct().withColumn("in_ref", F.lit(True))
    genes = (
        exported.select("db_object_id").distinct()
        .withColumn("gene_in_export", F.lit(True))
    )
    return (
        e.join(r, key, "full_outer")
        .withColumn(
            "status",
            F.when(F.col("in_export").isNotNull() & F.col("in_ref").isNotNull(),
                   F.lit("overlap"))
            .when(F.col("in_ref").isNotNull(), F.lit("missing"))
            .otherwise(F.lit("extra")),
        )
        .join(genes, "db_object_id", "left")
        .select(*key, "status",
                F.coalesce("gene_in_export", F.lit(False)).alias("gene_in_export"))
    )


def gpad_export(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """K4 — GPAD annotation export (GPAD.java:18-60;
    ReactomeGPAD.java:113-194). Re-derives GO annotation records from the
    final triple set: gene products get an `enables` row for each GO
    molecular function of a reaction they enable, and an `involved_in`
    row for each GO biological process of the pathway that reaction is
    part of. Closure membership (MF/BP) is the shared class flags
    (dims.typed) — the reference's structural-reasoner subclass checks.

    Output columns mirror the GPAD TSV record (db, db_object_id,
    qualifier, go_id, reference, evidence, assigned_by); the date column
    is a fixed provenance constant (deterministic output for resume)."""
    gp = type_rows(t).filter(F.col("cls").startswith("UniProtKB_")).select(
        "model_id",
        "node",
        F.substring(F.col("cls"), len("UniProtKB_") + 1, 10_000).alias("db_object_id"),
    )
    enablers = (
        t.filter(F.col("pred") == V.ENABLED_BY)
        .select("model_id", F.col("subj").alias("reaction"), F.col("obj").alias("node"))
        .join(gp, ["model_id", "node"])
        .select("model_id", "reaction", "db_object_id")
    )
    part_of = t.filter(F.col("pred") == V.PART_OF).select(
        "model_id", F.col("subj").alias("reaction"), F.col("obj").alias("node")
    )
    # the node each annotation is read off: the enabled reaction itself
    # (its MF types) and every pathway it is part of (their BP types)
    targets = enablers.select(
        "model_id", F.col("reaction").alias("node"), "db_object_id",
        F.lit("enables").alias("qualifier"),
    ).unionByName(
        enablers.join(part_of, ["model_id", "reaction"]).select(
            "model_id", "node", "db_object_id",
            F.lit("involved_in").alias("qualifier"),
        )
    )
    go = typed(t, ancestors).filter(F.col("mf") | F.col("bp"))
    return (
        targets.join(go, ["model_id", "node"])
        .filter(F.when(F.col("qualifier") == "enables", F.col("mf"))
                .otherwise(F.col("bp")))
        .select("model_id", "db_object_id", "qualifier",
                F.col("cls").alias("go_id"))
        .distinct()
        .select(
            F.lit("UniProtKB").alias("db"),
            "db_object_id",
            "qualifier",
            "go_id",
            F.col("model_id").alias("reference"),
            F.lit(V.ECO_IMPORTED).alias("evidence"),
            F.lit("pathways2go_spark").alias("assigned_by"),
        )
    )
