"""S3-S9 — side-input dictionary tables ("entity linking" dims).

Reference: GOLego xref map / closures (GOLego.java:77-151), SSSOM best-match
(SSSOM.java:46-118), YeastCyc lookup TSVs (Helper.java:164-349), PRO map,
tbox part->complex index (QRunner.java:950-1027).

All are bounded (<< memory) so every join site uses F.broadcast() — at
cluster scale these are the classic broadcast-hash-join dimensions; no
shuffle ever moves the fact table for a dim lookup.

Root-closure membership has one owner here: `class_flags` answers "is
this class under the MF / BP / CC / chemical / protein / complex root"
from one groupBy of `onto_ancestors`; `flagged` and `typed` attach
those flags to the corpus's rdf:type rows. The shape checks, the
validation suite, the reports and the analytics all read these flags
instead of filtering the closure per root.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import vocab as V

# flag name -> root class; class_flags has one boolean column per entry
ROOTS = {"mf": V.MF_ROOT, "bp": V.BP_ROOT, "cc": V.CC_ROOT,
         "chem": V.CHEMICAL_ROOT, "protein": V.PROTEIN_ROOT,
         "complex": V.COMPLEX_GO}


@dataclass
class Dims:
    onto_ancestors: DataFrame   # (class_iri, ancestor_iri) transitive incl. self
    onto_xrefs: DataFrame       # (xref, class_iri) e.g. EC:1.1.1.1, LOC:cytosol
    complex_parts: DataFrame    # (complex_class, part_class) transitive tbox index
    sssom: DataFrame            # (subject_id, object_id, confidence, mapping_tool)
    accession_map: DataFrame    # (source, acc, target_iri)
    drug_ids: DataFrame         # (entity_id, iuphar_id)


def load_dims(spark: SparkSession, fixture_dir: str) -> Dims:
    def rd(name: str) -> DataFrame:
        return spark.read.parquet(f"{fixture_dir}/{name}.parquet")

    return Dims(
        onto_ancestors=rd("onto_ancestors"),
        onto_xrefs=rd("onto_xrefs"),
        complex_parts=rd("complex_parts"),
        sssom=rd("sssom"),
        accession_map=rd("accession_map"),
        drug_ids=rd("drug_ids"),
    )


def class_flags(ancestors: DataFrame) -> DataFrame:
    """(cls, mf, bp, cc, chem, protein, complex): one row per class under
    any of the ROOTS (the root itself included), one boolean per root.
    Bounded by the ontology, so every caller broadcasts it."""
    return (
        ancestors.filter(F.col("ancestor_iri").isin(list(ROOTS.values())))
        .groupBy(F.col("class_iri").alias("cls"))
        .agg(*[F.max(F.col("ancestor_iri") == r).alias(k)
               for k, r in ROOTS.items()])
    )


def flagged(t: DataFrame, ancestors: DataFrame) -> DataFrame:
    """Every triple of `t` plus one ROOTS flag column each: the flags of
    its object class on an rdf:type row; False on every other row and
    for a class outside every root closure."""
    on = (F.col("pred") == V.TYPE) & (F.col("obj") == F.col("cls"))
    return t.join(F.broadcast(class_flags(ancestors)), on, "left").select(
        *t.columns, *[F.coalesce(F.col(k), F.lit(False)).alias(k) for k in ROOTS]
    )


def type_rows(t: DataFrame, *cols: str) -> DataFrame:
    """(model_id, node, cls, *cols): the rdf:type triples of `t`."""
    return t.filter(F.col("pred") == V.TYPE).select(
        "model_id", F.col("subj").alias("node"), F.col("obj").alias("cls"),
        *cols,
    )


def typed(t: DataFrame, ancestors: DataFrame, *cols: str) -> DataFrame:
    """type_rows plus the ROOTS flags of each row's class."""
    return type_rows(flagged(t, ancestors), *cols, *ROOTS)


def sssom_best(sssom: DataFrame) -> DataFrame:
    """Best match per subject with confidence > 0.5
    (SSSOM.java:107-118: max-confidence selection)."""
    w = Window.partitionBy("subject_id").orderBy(
        F.desc("confidence"), F.asc("object_id")
    )
    return (
        sssom.filter(F.col("confidence") > 0.5)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("subject_id", F.col("object_id").alias("sssom_go"))
    )


def transitive_closure(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 12,
    include_self: bool = False,
) -> DataFrame:
    """Iterative self-join to fixpoint (same loop shape as the reference's
    part->complex closure, QRunner.java:996-1022). Depth is small for
    ontology/pathway DAGs (<= ~12); each iteration localCheckpoints to cut
    lineage so the plan doesn't grow exponentially."""
    closure = edges.select(src, dst).distinct()
    frontier = closure
    for _ in range(max_iter):
        step = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col(f"f.{dst}") == F.col(f"e.{src}"))
            .select(F.col(f"f.{src}").alias(src), F.col(f"e.{dst}").alias(dst))
            .distinct()
        )
        new = step.join(closure, [src, dst], "left_anti").localCheckpoint(eager=True)
        if new.isEmpty():
            break
        closure = closure.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    if include_self:
        nodes = (
            edges.select(F.col(src).alias("n"))
            .unionByName(edges.select(F.col(dst).alias("n")))
            .distinct()
        )
        closure = closure.unionByName(
            nodes.select(F.col("n").alias(src), F.col("n").alias(dst))
        ).distinct()
    return closure
