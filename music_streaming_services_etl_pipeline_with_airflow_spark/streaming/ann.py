"""Streaming incremental IVF (ANN) index — vector ingestion at scale.

The remaining member of the incremental-index family (exact dedup r5,
BM25 r9, sequence packing r10, MinHash near-dup r11): embeddings stream
in micro-batches and the inverted-list table the search side serves from
is maintained INCREMENTALLY — each batch is assigned to its nearest
coarse-quantizer centroid and APPENDED to exactly the lists it touches,
never by recomputing assignments over the corpus.

Why this is the right 100 TB shape:
- The coarse quantizer is FIXED state trained offline (here: the
  deterministic first-``N_LIST``-vectors choice every IVF query in
  ``operators/similarity.py`` shares). Assignment of a vector depends
  only on that vector and the quantizer, so the maintained relation is
  arrival-order independent by construction — any batch split yields the
  same inverted lists, which is what lets the oracle be the WHOLE-CORPUS
  ``similarity_ivf_persisted`` SQL verbatim.
- Per batch: one broadcast pass over the BATCH (batch × centroids →
  map-side ``max_by`` argmax, no shuffle of stored state), one bounded
  ≤ ``n_lists`` collect for touched-list discovery, one bucket-granular
  APPEND (``commit_buckets(append=True)`` — write bytes O(batch), every
  calm list carries over by manifest reference). Crowded lists LSM-fold
  via ``compact_appended``, so manifests and per-probe file counts stay
  bounded as batches accumulate.
- Search reads ONLY the probed lists' bucket dirs (``read_buckets`` —
  storage-level pruning: nprobe/n_lists of the index bytes), shared with
  the batch-built index via ``search_persisted_ivf``.
- GDPR erase is the bucketed copy-on-write ``delete_where``: only the
  bucket dirs holding the erased vector rewrite; the searched index then
  provably excludes it through every probe path (exact oracle over the
  surviving corpus).

The reference pipeline (``dags/music_streaming_services_dag.py``) has no vector path at
all — this module is part of the LLM-training-data extension surface,
not reference parity.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..operators.similarity import (
    IVF_PERSISTED_SQL,
    N_LIST,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    _IVF_INDEX_SCHEMA,
    _corpus,
    search_persisted_ivf,
)
from ..plans.registry import register
from ..snapshots import SnapshotTable, local_frame
from ..workdirs import fresh_work_dir
from .ingest import _capture_plan, stage_table

# streaming-source schema for the staged embeddings drop folder (the
# parquet's physical types; ``label`` is not read)
EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>"
# fold an append-mode list back to one dir once it carries this many
# appended dirs — same LSM threshold family as the other index appliers
IVF_IDX_MAX_DIRS = 16


def _assign_to_lists(
    spark: SparkSession,
    batch: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
) -> DataFrame:
    """The ONE coarse-quantizer assignment kernel (shared by the
    streaming applier and the bulk bootstrap so the two CANNOT diverge):
    batch x broadcast centroids -> map-side ``max_by`` argmax over
    (cosine, -cid) — a hash aggregate that folds map-side; a row_number
    window would sort-shuffle the batch."""
    centroids = local_frame(
        spark,
        centroid_rows, "cid long, cv array<double>"
    )
    vecs = batch.select("vec_id", V.to_double_array("embedding").alias("v"))
    scored = vecs.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "v", "cid", V.cosine(F.col("v"), F.col("cv")).alias("cos_c")
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.max_by(
                "cid", F.struct(F.col("cos_c"), -F.col("cid"))
            ).alias("cid"),
        )
        .select("vec_id", "cid", "v")
    )


def bulk_seed_ivf_index(
    spark: SparkSession,
    index_t: SnapshotTable,
    centroid_rows: list[tuple[int, list[float]]],
    corpus: DataFrame,
    n_lists: int = N_LIST,
    batch_id: int = 0,
) -> None:
    """BULK BOOTSTRAP for the streaming IVF index (r15, completing the
    bootstrap family alongside :func:`bulk_seed_semantic_index` and
    ``ingest.bulk_seed_minhash_index``) — how a 100-TB deployment stands
    the inverted lists up over an EXISTING corpus: ONE broadcast
    assignment pass (the applier's own kernel via
    :func:`_assign_to_lists`) and ONE ``commit_buckets`` of every
    touched list, cursor seeded at ``batch_id`` so the stream takes over
    at ``batch_id + 1``. Replaying the corpus through the applier costs
    a Spark job cascade per chunk (append + LSM folds); assignment
    depends only on the vector and the FIXED quantizer, so the bulk
    build is content-identical to any chunked ingest by construction —
    pinned by test_ivf_bulk_seed_equals_incremental_build."""
    if index_t.latest_version() > 0:
        raise ValueError(
            f"{index_t.path}: bulk bootstrap requires FRESH tables — an "
            "existing index grows through the applier (or rebuilds "
            "from source after expire)"
        )
    assign = _assign_to_lists(spark, corpus, centroid_rows).localCheckpoint(
        eager=True
    )
    touched = sorted(
        int(r.cid) for r in assign.select("cid").distinct().collect()
    )
    index_t.commit_buckets(
        assign.withColumn("_bucket", F.col("cid").cast("int")),
        touched,
        n_buckets=n_lists,
        extra={"last_batch_id": batch_id, "bucket_scheme": "identity:cid"},
    )


def make_ivf_index_applier(
    index_t: SnapshotTable,
    centroid_rows: list[tuple[int, list[float]]],
    n_lists: int = N_LIST,
    max_dirs: int = IVF_IDX_MAX_DIRS,
):
    """foreachBatch callback maintaining the persisted inverted-list
    table. The trained quantizer ships WITH the applier as plain rows
    (``(cid, centroid_vector)`` — bounded by the quantizer size, the same
    way PQ codebooks broadcast) and is rebuilt per batch from those rows,
    so a restarted stream needs no live DataFrame in the closure.

    foreachBatch is at-least-once and the append is non-idempotent, so
    the table carries a ``last_batch_id`` manifest cursor and replays
    skip; ``compact_appended`` is content-neutral and cursor-preserving,
    so a crash between the append and the fold replays safely."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession
        last = index_t.latest_manifest_field("last_batch_id")
        if last is not None and batch_id <= last:
            return
        assign_frame = _assign_to_lists(spark_, batch, centroid_rows)
        # capture the real broadcast-argmax plan, then pin one evaluation
        # to feed touched-list discovery AND the commit
        _capture_plan("streaming_ivf_index_topk.batch_assign", assign_frame)
        assign = assign_frame.localCheckpoint(eager=True)
        touched = sorted(
            int(r.cid) for r in assign.select("cid").distinct().collect()
        )
        index_t.commit_buckets(
            assign.withColumn("_bucket", F.col("cid").cast("int")),
            touched,
            n_buckets=n_lists,
            append=True,
            # bucket_scheme (r15): record that the lists are IDENTITY-
            # bucketed so bucket_occupancy/maybe_rebucket/rebucket fail
            # loudly instead of silently re-hashing the layout out from
            # under read_buckets callers (which pass raw list ids)
            extra={"last_batch_id": batch_id, "bucket_scheme": "identity:cid"},
        )
        index_t.compact_appended(
            spark_,
            _IVF_INDEX_SCHEMA,
            "cid",
            n_lists,
            max_dirs,
            # the lists are IDENTITY-bucketed (bucket == list id), not
            # hash-bucketed — the fold must preserve that rule
            bucket_expr=F.col("cid").cast("int"),
        )

    return apply_batch


def stage_embeddings(sf_dir: str, name: str) -> str:
    return stage_table(
        sf_dir,
        name,
        "embeddings.parquet",
        "vec_id",
        columns=("vec_id", "embedding"),
    )


def build_streaming_ivf_index(
    spark: SparkSession, sf_dir: str, name: str
) -> SnapshotTable:
    """Run the 4-batch embeddings stream through the index applier into a
    fresh inverted-list snapshot table."""
    d = stage_embeddings(sf_dir, "ivf_index")
    work = fresh_work_dir(name)
    t = SnapshotTable(os.path.join(work, "index"))
    # the offline-trained quantizer: the deterministic first-N_LIST
    # vectors (shared with every batch IVF query); ≤ n_lists rows
    centroid_rows = [
        (int(r.vec_id), list(r.v))
        for r in _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < N_LIST)
        .collect()
    ]
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        src.writeStream.foreachBatch(
            make_ivf_index_applier(t, centroid_rows)
        )
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t


def ivf_list_skew_audit(spark: SparkSession, index_t: SnapshotTable) -> dict:
    """One-scan occupancy audit of the inverted lists (r13): max-list /
    mean-list occupancy is the number that tells an operator when the
    quantizer has drifted from the data — a skew ratio of k means the
    hottest list costs k× the average probe, and erase/compaction
    rewrites concentrate on it. Run it on the same maintenance cadence as
    fsck; when skew crosses the deployment's threshold, retrain and
    migrate via :func:`requantize_ivf_index`.

    ``skew`` = max / (total / n_lists), the ALL-lists mean (r14, ADVICE):
    a groupBy over the stored rows yields no row for an EMPTY list, so a
    nonempty-only mean would understate skew exactly when the quantizer
    has drifted badly enough to empty lists — the condition the audit
    exists to detect. The denominator's list count comes from the
    table's recorded bucket count (lists are identity-bucketed by cid);
    ``mean_nonempty``/``skew_nonempty`` are also reported for reading
    occupancy of the lists that do hold vectors."""
    occ = (
        index_t.read(spark)
        .groupBy("cid")
        .agg(F.count("*").alias("n"))
        .agg(
            F.max("n").alias("mx"),
            F.avg("n").alias("mean"),
            F.count("*").alias("nonempty"),
            F.sum("n").alias("total"),
        )
        .first()
    )
    if occ["total"] is None:
        return {"n_vectors": 0, "n_lists": 0, "nonempty_lists": 0,
                "max_list": 0, "mean_list": 0.0, "mean_nonempty": 0.0,
                "skew": 0.0, "skew_nonempty": 0.0}
    n_lists = int(
        index_t.latest_manifest_field("n_buckets") or occ["nonempty"]
    )
    mean_all = int(occ["total"]) / n_lists
    return {
        "n_vectors": int(occ["total"]),
        "n_lists": n_lists,
        "nonempty_lists": int(occ["nonempty"]),
        "max_list": int(occ["mx"]),
        "mean_list": round(mean_all, 2),
        "mean_nonempty": round(float(occ["mean"]), 2),
        "skew": round(int(occ["mx"]) / mean_all, 2),
        "skew_nonempty": round(int(occ["mx"]) / float(occ["mean"]), 2),
    }


def requantize_ivf_index(
    spark: SparkSession,
    index_t: SnapshotTable,
    new_centroid_rows: list[tuple[int, list[float]]],
    n_lists: int | None = None,
) -> dict:
    """Quantizer lifecycle migration (r13, VERDICT r12 ask 3): at 100 TB
    the coarse quantizer is not forever — data drift unbalances the
    inverted lists and real systems periodically retrain centroids and
    reassign. This is that migration as ONE bounded rewrite:

    - read every stored vector ONCE (a migration is O(|index|) by
      necessity — but one pass, not per-list jobs);
    - reassign with the SAME broadcast map-side max_by argmax kernel the
      ingest applier uses (no shuffle of stored state beyond the final
      bucket-aligned write);
    - commit the new bucket map atomically via
      ``commit_buckets(replace_all_buckets=True)`` — the one commit shape
      under which the list COUNT may change, because nothing carries over
      by reference. A crash mid-migration leaves the pre-migration
      version current (manifest-swap atomicity), so the migration is
      all-or-nothing, same model-fuzz class as ``compact_appended``.

    Cursor-preserving: the ``last_batch_id`` replay cursor (and every
    other caller extra) carries forward through the commit, so the
    stream resumes exactly where it left off — against a NEW applier
    built with the new quantizer (the quantizer ships with the applier,
    so hand the retrained rows to ``make_ivf_index_applier``).

    Returns ``{"before": <skew audit>, "after": <skew audit>,
    "version": <new version>}``. (The MIGRATION reads the data once; the
    two occupancy audits bracketing it are separate cid-only scans —
    column-pruned to the 8-byte list id, they read ~1% of the index
    bytes each and ride in the report because skew-before/after is the
    number the operator retrained FOR.)"""
    n_new = n_lists or len(new_centroid_rows)
    bad = [c for c, _ in new_centroid_rows if not (0 <= c < n_new)]
    if bad:
        raise ValueError(
            f"centroid ids {bad[:5]} outside [0, {n_new}) — inverted "
            "lists are identity-bucketed by cid, so every centroid id "
            "must be a valid list id"
        )
    before = ivf_list_skew_audit(spark, index_t)
    centroids = local_frame(
        spark,
        new_centroid_rows, "cid long, cv array<double>"
    )
    vecs = index_t.read(spark).select("vec_id", "v")
    reassigned = (
        vecs.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "v", "cid",
            V.cosine(F.col("v"), F.col("cv")).alias("cos_c"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.max_by("cid", F.struct(F.col("cos_c"), -F.col("cid"))).alias(
                "cid"
            ),
        )
        .select("vec_id", "cid", "v")
    )
    version = index_t.commit_buckets(
        reassigned.withColumn("_bucket", F.col("cid").cast("int")),
        list(range(n_new)),
        n_buckets=n_new,
        replace_all_buckets=True,
    )
    return {
        "before": before,
        "after": ivf_list_skew_audit(spark, index_t),
        "version": version,
    }


def _search_with_captured_plan(
    spark: SparkSession, sf_dir: str, t: SnapshotTable, capture: str
) -> DataFrame:
    out = search_persisted_ivf(spark, sf_dir, t, nprobe=N_PROBE)
    _capture_plan(capture, out)
    return out


@register(
    "streaming_ivf_index_topk",
    IVF_PERSISTED_SQL,
    doc="STREAMING INCREMENTAL IVF (ANN) INDEX (r12) — vector ingestion "
    "at scale, completing the incremental-index family (exact dedup r5, "
    "BM25 r9, packing r10, minhash near-dup r11): embeddings stream in 4 "
    "micro-batches; each batch assigns to its nearest coarse-quantizer "
    "centroid map-side (batch x broadcast quantizer -> max_by argmax, no "
    "shuffle of stored state) and APPENDS to exactly the inverted lists "
    "it touches (commit_buckets(append=True) — write bytes O(batch), "
    "calm lists carry over by manifest reference; crowded lists LSM-fold "
    "via compact_appended). Assignment depends only on the vector and "
    "the FIXED quantizer, so the maintained lists are arrival-order "
    "independent by construction, and the oracle is the whole-corpus "
    "similarity_ivf_persisted SQL VERBATIM — the value hash proves "
    "maintained == recomputed. Search is the shared "
    "search_persisted_ivf: probe-list discovery on the query x centroid "
    "slice, then read ONLY the probed lists' bucket dirs. Replays are "
    "guarded by a last_batch_id manifest cursor.",
)
def q_streaming_ivf_index_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = build_streaming_ivf_index(spark, sf_dir, "streaming_ivf_index_topk")
    return _search_with_captured_plan(
        spark, sf_dir, t, "streaming_ivf_index_topk.pruned_search"
    )


@register(
    "streaming_ivf_index_bulk_bootstrap",
    IVF_PERSISTED_SQL,
    doc="BULK BOOTSTRAP + STREAMING CONTINUATION for the IVF index "
    "(r15, completing the bootstrap family across all five streaming "
    "indexes): a 100-TB inverted-list index over an EXISTING corpus is "
    "stood up by ONE broadcast assignment pass + ONE commit_buckets "
    "(bulk_seed_ivf_index — the applier's own argmax kernel via the "
    "shared _assign_to_lists, so bulk and chunked CANNOT diverge), not "
    "by replaying the corpus through the applier's per-chunk append + "
    "LSM-fold cascade. The first half of the staged embeddings "
    "bootstraps, the second half streams through the applier on the "
    "seeded cursor, and the oracle is the whole-corpus "
    "similarity_ivf_persisted SQL VERBATIM — the hash proves bootstrap "
    "+ continuation == recomputed.",
)
def q_streaming_ivf_index_bulk_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    d = stage_embeddings(sf_dir, "ivf_index")
    parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    work = fresh_work_dir("streaming_ivf_index_bulk_bootstrap")
    t = SnapshotTable(os.path.join(work, "index"))
    centroid_rows = [
        (int(r.vec_id), list(r.v))
        for r in _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < N_LIST)
        .collect()
    ]
    half = max(1, len(parts) // 2)
    bulk_seed_ivf_index(
        spark,
        t,
        centroid_rows,
        spark.read.parquet(*[os.path.join(d, f) for f in parts[:half]]),
        batch_id=-1,  # stream batch ids start at 0
    )
    drop = os.path.join(work, "drop")
    os.makedirs(drop, exist_ok=True)
    for f in parts[half:]:
        shutil.copy2(os.path.join(d, f), os.path.join(drop, f))
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        src.writeStream.foreachBatch(make_ivf_index_applier(t, centroid_rows))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return _search_with_captured_plan(
        spark, sf_dir, t, "streaming_ivf_index_bulk_bootstrap.pruned_search"
    )


@register(
    "streaming_ivf_requantize",
    IVF_PERSISTED_SQL,
    doc="QUANTIZER LIFECYCLE MIGRATION (r13, VERDICT r12 ask 3): the "
    "4-batch embeddings stream first ingests under a deliberately "
    "DRIFTED quantizer (centroid i = the vector of vec_id 8+i — wrong "
    "geometry, same list ids), then requantize_ivf_index migrates the "
    "index to the canonical first-N_LIST quantizer in ONE bounded "
    "rewrite: read every stored vector once, reassign with the same "
    "broadcast map-side max_by argmax kernel the applier uses, commit "
    "the new bucket map atomically via "
    "commit_buckets(replace_all_buckets=True) — all-or-nothing under a "
    "crash, replay-cursor-preserving. The oracle is the whole-corpus "
    "similarity_ivf_persisted SQL VERBATIM under the canonical "
    "quantizer, so the value hash proves the migration erased all "
    "assignment history: migrated == recomputed-from-scratch.",
)
def q_streaming_ivf_requantize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = stage_embeddings(sf_dir, "ivf_index")
    work = fresh_work_dir("streaming_ivf_requantize")
    t = SnapshotTable(os.path.join(work, "index"))
    vecs = {
        int(r.vec_id): list(r.v)
        for r in _corpus(spark, sf_dir)
        .filter(F.col("vec_id") < 2 * N_LIST)
        .collect()
    }
    drifted = [(i, vecs[N_LIST + i]) for i in range(N_LIST)]
    canonical = [(i, vecs[i]) for i in range(N_LIST)]
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        src.writeStream.foreachBatch(make_ivf_index_applier(t, drifted))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    requantize_ivf_index(spark, t, canonical)
    return _search_with_captured_plan(
        spark, sf_dir, t, "streaming_ivf_requantize.pruned_search"
    )


# EXACT oracle over the surviving corpus: the erased vector (the max
# vec_id — always >= N_QUERIES in the testdata, so the query set and the
# quantizer are untouched) must be unreachable through assignment AND
# scoring; everything else is the shared persisted-IVF search.
_IVF_DELETE_SQL = f"""
WITH erased AS (SELECT MAX(vec_id) AS ev FROM embeddings),
corpus AS (SELECT e.vec_id, e.embedding FROM embeddings e, erased x
           WHERE e.vec_id <> x.ev),
centroids AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < {N_LIST}),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {V.cosine_sql('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
        FROM corpus e CROSS JOIN centroids c
    ) WHERE rn = 1
),
queries AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}),
qprobe AS (
    SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY {V.cosine_sql('q.qv', 'c.cv')} DESC, c.cid ASC) AS rn
        FROM queries q CROSS JOIN centroids c
    ) WHERE rn <= {N_PROBE}
),
scored AS (
    SELECT DISTINCT q.qid, a.vec_id AS neighbor_id,
           {V.cosine_sql('q.qv', 'e.embedding')} AS cos
    FROM queries q
    JOIN qprobe p ON p.qid = q.qid
    JOIN assign a ON a.cid = p.cid AND a.vec_id <> q.qid
    JOIN corpus e ON e.vec_id = a.vec_id
)
SELECT qid, neighbor_id, cos, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM scored
) WHERE rank <= {TOP_K}"""


@register(
    "streaming_ivf_index_delete",
    _IVF_DELETE_SQL,
    doc="GDPR ERASE-AND-SERVE on the streaming IVF index (r12): after "
    "the 4-batch build, one vector (the max vec_id) is erased END-TO-END "
    "with the bucketed copy-on-write delete_where — ONLY the bucket dirs "
    "holding that vector rewrite (one parallel pushed-down probe over "
    "all dirs finds them; every calm list carries over by reference, "
    "pytest-pinned), then the same "
    "bucket-pruned search serves from the surviving index. The oracle "
    "recomputes the whole persisted-IVF answer over embeddings MINUS the "
    "erased vector, so the value hash proves the vector is unreachable "
    "through every probe path (assignment, scoring, ranking).",
)
def q_streaming_ivf_index_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # fail fast BEFORE the 4-batch build: the guard costs one aggregate
    ev = int(_corpus(spark, sf_dir).agg(F.max("vec_id")).first()[0])
    if ev < N_QUERIES:
        raise ValueError(
            f"erase target vec_id={ev} falls inside the query set "
            f"(< {N_QUERIES}) — the delete oracle assumes the corpus "
            "extends past the query/quantizer prefix"
        )
    t = build_streaming_ivf_index(
        spark, sf_dir, "streaming_ivf_index_delete"
    )
    t.delete_where(spark, f"vec_id = {ev}")
    return _search_with_captured_plan(
        spark, sf_dir, t, "streaming_ivf_index_delete.pruned_search"
    )


# ---------------------------------------------------------------------------
# Streaming semantic (embedding-LSH) near-dup index — the online-ingestion
# shape of operators/dedup.q_embedding_lsh, completing the streaming
# near-dup story: lexical (minhash, streaming/ingest.py) + semantic (here).
# ---------------------------------------------------------------------------

_SEM_BANDS_SCHEMA = "vec_id long, band int, code int, bk long"
_SEM_VECS_SCHEMA = "vec_id long, v array<double>"
_SEM_GROUPS_SCHEMA = "vh long, gid long, selfdup boolean, n_members long"
_SEM_MEMBERS_SCHEMA = "vec_id long, gid long, vh long"
_SEM_PAIRS_SCHEMA = "va long, vb long"


def make_semantic_index_applier(
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    record_stats: bool = False,
    lsh_bands: int | None = None,
    lsh_bits: int | None = None,
):
    """foreachBatch callback maintaining a persisted SEMANTIC near-dup
    index — random-hyperplane LSH over embeddings with the batch
    operator's EXACT-VECTOR-COLLAPSE front applied online: only each
    distinct vector's FIRST ARRIVAL (the group canonical) is normalized,
    sign-banded, probed against the stored index and stored; an exact
    copy appends one MEMBERS row. The queryable pair set is reconstructed
    relationally at serve time (:func:`serve_semantic_pairs`), so the
    oracle is ``dedup_embedding_lsh``'s whole-corpus SQL verbatim.

    State (five snapshot tables), mirroring the minhash index's protocol
    (streaming/ingest.py make_minhash_index_applier — commit order PAIRS
    -> BANDS -> VECS -> GROUPS -> MEMBERS, one last_batch_id cursor per
    table, replays skip per table):
    - PAIRS (va, vb): verified CANONICAL pairs, flat O(batch) appends +
      dir-count fold.
    - BANDS (vec_id, band, code, bk), bucketed on bk = band*2^r + code:
      the LSH index over canonicals; probes read only the batch's bk
      buckets with an In(bk) pushdown.
    - VECS (vec_id, v): canonical NORMALIZED vectors — the verification
      corpus; bucketed on vec_id, read pruned to candidate ids.
    - GROUPS (vh, gid, selfdup, n_members), bucketed on vh =
      xxhash64(raw vector) (the batch operator's collapse key): selfdup
      records whether the canonical's self-cosine clears the threshold —
      the gate for identical-vector pairs at serve time (a zero vector's
      copies must NOT pair, exactly as the oracle computes).
    - MEMBERS (vec_id, gid, vh), bucketed on vec_id.

    Candidate verification is driver-free: history candidate ids are a
    distributed anti-join; the vector read is bucket-pruned and
    semi-joined to the id frame; the exact-cosine verify is one
    Arrow-vectorized pair_dot join. Unlike minhash there is no size
    blocking — sign-bit LSH candidates are exactly the same-(band,code)
    pairs. Served output is arrival-order independent: assignment of a
    vector to a group and a canonical's signature depend only on vector
    content."""
    from ..operators.dedup import (
        COSINE_DUP_THRESHOLD,
        LSH_BANDS,
        LSH_BITS_PER_BAND,
        _make_lsh_udfs,
    )
    from ..streaming.ingest import _PACK_PK_ISIN_CAP as _SEM_ISIN_CAP
    from ..streaming.ingest import _compact_append_chain

    # the registry layout by default; production deployments raise
    # lsh_bits (8-12 with a higher tau) — candidates prune 2^bits-way
    # through the same protocol (measured: tools/semantic_growth_measure)
    lsh_bands = lsh_bands or LSH_BANDS
    lsh_bits = lsh_bits or LSH_BITS_PER_BAND
    band_codes, pair_dot = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    SEM_MAX_DIRS = 16

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        spark_ = batch.sparkSession
        cur = {
            "pairs": pairs_t.latest_manifest_field("last_batch_id"),
            "bands": bands_t.latest_manifest_field("last_batch_id"),
            "vecs": vecs_t.latest_manifest_field("last_batch_id"),
            "groups": groups_t.latest_manifest_field("last_batch_id"),
            "members": members_t.latest_manifest_field("last_batch_id"),
        }
        if all(c is not None and batch_id <= c for c in cur.values()):
            return  # full replay
        stats: dict = {"batch_id": batch_id, "driver_collected_rows": 0}

        vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
        id_bucket = SnapshotTable.bucket_of(F.col("vec_id"), vec_buckets)
        bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
        mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)

        # ---- exact-vector-collapse front ----
        hashed = batch.select(
            "vec_id",
            V.to_double_array("embedding").alias("dv"),
        ).withColumn("vh", F.xxhash64("dv")).localCheckpoint(eager=True)
        vh_rows = (
            hashed.select("vh")
            .distinct()
            .select("vh", vh_bucket.alias("_b"))
            .collect()
        )
        stats["driver_collected_rows"] += len(vh_rows)
        # pending-clear guard (r13, mirrors the minhash applier): a copy
        # of a half-cleared vector must not resurrect its group around a
        # signature whose pairs/bands are already gone — fail loudly;
        # the erase retry or audit_and_repair_semantic_index resolves.
        pending = groups_t.latest_manifest_field("pending_clear") or None
        if pending:
            pvh = int(pending.split("@", 1)[1])
            if any(r["vh"] == pvh for r in vh_rows):
                raise ValueError(
                    f"batch {batch_id} contains a vector whose group has "
                    f"an INCOMPLETE last-member erase (pending_clear "
                    f"{pending!r}) — retry that erase or run "
                    "audit_and_repair_semantic_index before ingesting "
                    "copies of it"
                )
        # pending-group-sync guard (r15, twin of the minhash applier's):
        # a torn batch erase's counter targets would overwrite a member
        # appended now — fail loudly when the batch touches such a group
        sync = members_t.latest_manifest_field("pending_group_sync") or None
        if sync:
            sync_vhs = {int(v) for v in json.loads(sync)}
            if any(r["vh"] in sync_vhs for r in vh_rows):
                raise ValueError(
                    f"batch {batch_id} contains a vector whose group has "
                    "an INCOMPLETE batch erase (pending_group_sync) — "
                    "re-run the erase_semantic_vecs call or "
                    "audit_and_repair_semantic_index before ingesting "
                    "copies of it"
                )
        touched_g = sorted({r["_b"] for r in vh_rows})
        groups_all = groups_t.read_buckets(
            spark_, touched_g, _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
        )
        vh_vals = [r["vh"] for r in vh_rows]
        if len(vh_vals) <= _SEM_ISIN_CAP:
            exist = groups_all.where(F.col("vh").isin(vh_vals))
        else:
            exist = groups_all.join(
                F.broadcast(hashed.select("vh").distinct()), "vh", "semi"
            )
        if groups_t.latest_version() > 0:
            _capture_plan("streaming_semantic_index.groups_pruned_read", exist)
        exist = exist.select("vh", "gid").localCheckpoint(eager=True)
        batch_min = hashed.groupBy("vh").agg(F.min("vec_id").alias("_bgid"))
        assign = (
            hashed.select("vec_id", "vh")
            .join(exist, "vh", "left")
            .join(batch_min, "vh")
            .select("vec_id", "vh", F.coalesce("gid", "_bgid").alias("gid"))
            .localCheckpoint(eager=True)
        )
        canon = hashed.join(
            assign.where(F.col("vec_id") == F.col("gid")).select("vec_id"),
            "vec_id",
        )

        # ---- LSH machinery over CANONICALS only ----
        # zero-norm vectors never enter the machinery: the divide would
        # throw under ANSI, and the oracle's NaN dot keeps them out of
        # every pair anyway — they stay group members with
        # selfdup=False (the coalesce below)
        nv = (
            canon.withColumn("nrm", V.norm(F.col("dv")))
            .where(F.col("nrm") > 0)
            .select(
                "vec_id",
                F.transform("dv", lambda x: x / F.col("nrm")).alias("v"),
            )
            .localCheckpoint(eager=True)
        )
        bands = (
            nv.select(
                "vec_id",
                F.posexplode(band_codes("v")).alias("band", "code"),
            )
            .withColumn(
                "bk",
                (
                    F.col("band").cast("long")
                    * (1 << lsh_bits)
                    + F.col("code")
                ),
            )
            .localCheckpoint(eager=True)
        )
        key_rows = (
            bands.select("bk")
            .distinct()
            .select("bk", bk_bucket.alias("_b"))
            .collect()
        )
        stats["driver_collected_rows"] += len(key_rows)
        stats["batch_bks"] = len(key_rows)
        touched_b = sorted({r["_b"] for r in key_rows})

        if cur["pairs"] is None or batch_id > cur["pairs"]:
            within = (
                bands.select(F.col("vec_id").alias("va"), "bk")
                .join(bands.select(F.col("vec_id").alias("vb"), "bk"), "bk")
                .filter(F.col("va") < F.col("vb"))
                .select("va", "vb")
                .distinct()
            )
            hist_bands = bands_t.read_buckets(
                spark_, touched_b, _SEM_BANDS_SCHEMA, n_buckets=band_buckets
            )
            bks = [r["bk"] for r in key_rows]
            if len(bks) <= _SEM_ISIN_CAP:
                hist_bands = hist_bands.where(F.col("bk").isin(bks))
            else:
                hist_bands = hist_bands.join(
                    F.broadcast(bands.select("bk").distinct()), "bk", "semi"
                )
            if bands_t.latest_version() > 0:
                _capture_plan(
                    "streaming_semantic_index.bands_pruned_probe", hist_bands
                )
            if record_stats:
                stats["hist_band_rows_read"] = hist_bands.count()
            cross = (
                bands.select(F.col("vec_id").alias("va"), "bk")
                .join(
                    hist_bands.select(F.col("vec_id").alias("vb"), "bk"), "bk"
                )
                .select(
                    F.least("va", "vb").alias("va"),
                    F.greatest("va", "vb").alias("vb"),
                )
                .distinct()
            )
            cand = (
                within.unionByName(cross).distinct().localCheckpoint(eager=True)
            )
            hist_ids = (
                cand.select(F.explode(F.array("va", "vb")).alias("vec_id"))
                .distinct()
                .join(nv.select("vec_id"), "vec_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            n_hist = hist_ids.count()
            stats["cand_hist_vecs"] = n_hist
            if n_hist:
                touched_v = sorted(
                    r["_b"]
                    for r in hist_ids.select(id_bucket.alias("_b"))
                    .distinct()
                    .collect()
                )
                stats["driver_collected_rows"] += len(touched_v)
                hist_v = vecs_t.read_buckets(
                    spark_, touched_v, _SEM_VECS_SCHEMA, n_buckets=vec_buckets
                ).join(hist_ids, "vec_id", "semi")
                _capture_plan(
                    "streaming_semantic_index.vecs_pruned_verify", hist_v
                )
                all_v = nv.unionByName(hist_v)
            else:
                all_v = nv
            va_vec = all_v.select(F.col("vec_id").alias("va"), F.col("v").alias("veca"))
            vb_vec = all_v.select(F.col("vec_id").alias("vb"), F.col("v").alias("vecb"))
            verified = (
                cand.join(va_vec, "va")
                .join(vb_vec, "vb")
                .select(
                    "va",
                    "vb",
                    pair_dot(F.col("veca"), F.col("vecb")).alias("cos"),
                )
                .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
                .select("va", "vb")
                .localCheckpoint(eager=True)
            )
            if record_stats:
                stats["pairs_appended"] = verified.count()
            pairs_t.commit(
                verified,
                mode="append" if pairs_t.latest_version() > 0 else "overwrite",
                extra={"last_batch_id": batch_id},
            )
        if cur["bands"] is None or batch_id > cur["bands"]:
            bands_t.commit_buckets(
                bands.withColumn("_bucket", bk_bucket),
                touched_b,
                n_buckets=band_buckets,
                # the layout rides the manifest so the erase path can
                # never recompute bk under different planes/encoding
                extra={
                    "last_batch_id": batch_id,
                    "lsh_bands": lsh_bands,
                    "lsh_bits": lsh_bits,
                },
                append=True,
            )
        if cur["vecs"] is None or batch_id > cur["vecs"]:
            touched_v2 = sorted(
                r["_b"]
                for r in nv.select(id_bucket.alias("_b")).distinct().collect()
            )
            stats["driver_collected_rows"] += len(touched_v2)
            vecs_t.commit_buckets(
                nv.withColumn("_bucket", id_bucket),
                touched_v2,
                n_buckets=vec_buckets,
                extra={"last_batch_id": batch_id},
                append=True,
            )
        if cur["groups"] is None or batch_id > cur["groups"]:
            # selfdup: the canonical's self-cosine clears the threshold —
            # computed, not assumed, so degenerate zero vectors stay out
            # of serve-time identical-vector pairs (oracle parity)
            selfdup = nv.select(
                F.col("vec_id").alias("_sgid"),
                (
                    pair_dot(F.col("v"), F.col("v")) >= COSINE_DUP_THRESHOLD
                ).alias("_sflag"),
            )
            delta_g = (
                assign.groupBy("vh")
                .agg(F.count("*").alias("d_n"), F.min("gid").alias("d_gid"))
                .join(selfdup, F.col("d_gid") == F.col("_sgid"), "left")
                .select(
                    "vh",
                    "d_gid",
                    F.coalesce("_sflag", F.lit(False)).alias("d_selfdup"),
                    "d_n",
                )
            )
            groups_t.merge_bucketed(
                spark_,
                delta_g,
                on="vh",
                update={"n_members": "n_members + d_n"},
                insert_defaults={
                    "gid": "d_gid",
                    "selfdup": "d_selfdup",
                    "n_members": "d_n",
                },
                n_buckets=group_buckets,
                schema=_SEM_GROUPS_SCHEMA,
                extra={"last_batch_id": batch_id},
            )
        if cur["members"] is None or batch_id > cur["members"]:
            mem = assign.select("vec_id", "gid", "vh")
            touched_m = sorted(
                r["_b"]
                for r in mem.select(mem_bucket.alias("_b")).distinct().collect()
            )
            stats["driver_collected_rows"] += len(touched_m)
            members_t.commit_buckets(
                mem.withColumn("_bucket", mem_bucket),
                touched_m,
                n_buckets=member_buckets,
                extra={"last_batch_id": batch_id},
                append=True,
            )
        bands_t.compact_appended(
            spark_, _SEM_BANDS_SCHEMA, "bk", band_buckets, SEM_MAX_DIRS
        )
        vecs_t.compact_appended(
            spark_, _SEM_VECS_SCHEMA, "vec_id", vec_buckets, SEM_MAX_DIRS
        )
        members_t.compact_appended(
            spark_, _SEM_MEMBERS_SCHEMA, "vec_id", member_buckets, SEM_MAX_DIRS
        )
        _compact_append_chain(spark_, pairs_t, SEM_MAX_DIRS)
        if record_stats:
            apply_batch.last_stats = stats

    return apply_batch


def bulk_seed_semantic_index(
    spark: SparkSession,
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    corpus,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    lsh_bands: int | None = None,
    lsh_bits: int | None = None,
    batch_id: int = 0,
    with_pairs: bool = True,
) -> None:
    """BULK BOOTSTRAP for the streaming semantic index (r15) — how a
    100-TB deployment actually stands the index up over an EXISTING
    corpus: one batch build of the five-table state, after which the
    stream takes over with :func:`make_semantic_index_applier` (the
    cursors are seeded at ``batch_id``, so the stream continues at
    ``batch_id + 1``). Replaying the corpus through the applier in
    chunks — the only alternative — pays the probe's O(chunk × N/2^r)
    candidate term per chunk, which integrates to O(N²/2^r): measured
    ~23 h of single-host wall at 10⁶ vectors on the 16×10 layout
    (SCALING.md round 15), where this build is a handful of shuffle-free
    batch jobs.

    Produces EXACTLY the state the applier reaches after ingesting the
    corpus in ascending-id chunks (pinned by
    test_semantic_bulk_seed_equals_incremental_build): same collapse
    (vh = xxhash64 of the raw double array, canonical = first arrival =
    min vec_id), same normalized canonicals, same band rows under the
    same recorded layout, same group counters/selfdup flags, same
    bucket counts and replay cursors.

    ``with_pairs=False`` defers the PAIRS backlog: the stored-pair
    discovery over N seed vectors is the batch dedup operator's
    O(N²/2^r) candidate join — right on a cluster, out of budget for a
    single-host bootstrap past ~10⁵ vectors. The applier NEVER READS
    PAIRS (they are append-only; probes read BANDS, verification reads
    VECS), so a deferred backlog changes nothing about ingest behavior
    or cost — only :func:`serve_semantic_pairs` output, which then
    covers post-bootstrap pairs only until the backlog is filled by one
    cluster-scale batch run (dedup_embedding_lsh's plan verbatim).
    Used with ``with_pairs=False`` by tools/semantic_growth_measure.py
    --bulk to measure constant-batch ingest walls at 10⁶ stored
    vectors."""
    from ..operators.dedup import (
        COSINE_DUP_THRESHOLD,
        LSH_BANDS,
        LSH_BITS_PER_BAND,
        _make_lsh_udfs,
    )

    lsh_bands = lsh_bands or LSH_BANDS
    lsh_bits = lsh_bits or LSH_BITS_PER_BAND
    band_codes, pair_dot = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    id_bucket = SnapshotTable.bucket_of(F.col("vec_id"), vec_buckets)
    bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
    mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)
    for t in (pairs_t, bands_t, vecs_t, groups_t, members_t):
        if t.latest_version() > 0:
            raise ValueError(
                f"{t.path}: bulk bootstrap requires FRESH tables — an "
                "existing index grows through the applier (or rebuilds "
                "from source after expire)"
            )

    hashed = corpus.select(
        "vec_id", V.to_double_array("embedding").alias("dv")
    ).withColumn("vh", F.xxhash64("dv"))
    # collapse: canonical = min vec_id per distinct raw vector — the
    # applier's first-arrival rule under ascending-id ingestion
    assign = (
        hashed.select("vec_id", "vh")
        .join(
            hashed.groupBy("vh").agg(F.min("vec_id").alias("gid")), "vh"
        )
        .select("vec_id", "vh", "gid")
        .localCheckpoint(eager=True)
    )
    nv = (
        hashed.join(
            assign.where(F.col("vec_id") == F.col("gid")).select("vec_id"),
            "vec_id",
        )
        .withColumn("nrm", V.norm(F.col("dv")))
        .where(F.col("nrm") > 0)
        .select(
            "vec_id",
            F.transform("dv", lambda x: x / F.col("nrm")).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    bands = (
        nv.select(
            "vec_id", F.posexplode(band_codes("v")).alias("band", "code")
        )
        .withColumn(
            "bk",
            F.col("band").cast("long") * (1 << lsh_bits) + F.col("code"),
        )
    )
    if with_pairs:
        within = (
            bands.select(F.col("vec_id").alias("va"), "bk")
            .join(bands.select(F.col("vec_id").alias("vb"), "bk"), "bk")
            .filter(F.col("va") < F.col("vb"))
            .select("va", "vb")
            .distinct()
        )
        va_vec = nv.select(F.col("vec_id").alias("va"), F.col("v").alias("veca"))
        vb_vec = nv.select(F.col("vec_id").alias("vb"), F.col("v").alias("vecb"))
        verified = (
            within.join(va_vec, "va")
            .join(vb_vec, "vb")
            .select(
                "va",
                "vb",
                pair_dot(F.col("veca"), F.col("vecb")).alias("cos"),
            )
            .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
            .select("va", "vb")
        )
    else:
        verified = local_frame(spark, [], "va long, vb long")
    pairs_t.commit(verified, extra={"last_batch_id": batch_id})
    bands_t.commit_buckets(
        bands.withColumn("_bucket", bk_bucket),
        list(range(band_buckets)),
        n_buckets=band_buckets,
        extra={
            "last_batch_id": batch_id,
            "lsh_bands": lsh_bands,
            "lsh_bits": lsh_bits,
        },
    )
    vecs_t.commit_buckets(
        nv.withColumn("_bucket", id_bucket),
        list(range(vec_buckets)),
        n_buckets=vec_buckets,
        extra={"last_batch_id": batch_id},
    )
    selfdup = nv.select(
        F.col("vec_id").alias("_sgid"),
        (pair_dot(F.col("v"), F.col("v")) >= COSINE_DUP_THRESHOLD).alias(
            "_sflag"
        ),
    )
    groups = (
        assign.groupBy("vh")
        .agg(F.count("*").alias("n_members"), F.min("gid").alias("gid"))
        .join(selfdup, F.col("gid") == F.col("_sgid"), "left")
        .select(
            "vh",
            "gid",
            F.coalesce("_sflag", F.lit(False)).alias("selfdup"),
            "n_members",
        )
    )
    groups_t.commit_buckets(
        groups.withColumn("_bucket", vh_bucket),
        list(range(group_buckets)),
        n_buckets=group_buckets,
        extra={"last_batch_id": batch_id},
    )
    members_t.commit_buckets(
        assign.select("vec_id", "gid", "vh").withColumn(
            "_bucket", mem_bucket
        ),
        list(range(member_buckets)),
        n_buckets=member_buckets,
        extra={"last_batch_id": batch_id},
    )


def backfill_semantic_pairs(
    spark: SparkSession, pairs_t, bands_t, vecs_t
) -> int:
    """PAIRS BACKLOG BACKFILL (r15) — the one cluster-scale batch run a
    ``with_pairs=False`` bootstrap defers: recompute the banded
    candidate join + exact-cosine verify over the STORED canonicals
    (BANDS/VECS — ``dedup_embedding_lsh``'s plan over the index's own
    state, under the layout recorded in the BANDS manifest), anti-join
    the pairs already stored, and APPEND only the missing mass. Because
    the applier's pair discovery is append-only and keyed (va, vb), the
    anti-join makes this correct WHENEVER it runs — immediately after
    the bootstrap or after any amount of streaming continuation (whose
    post-bootstrap pairs survive untouched) — and IDEMPOTENT: a second
    run appends nothing and commits nothing. Returns the number of
    pairs appended. After it, serve_semantic_pairs output equals the
    ``with_pairs=True`` build's exactly (pinned by
    test_semantic_pairs_backfill_completes_deferred_bootstrap)."""
    from ..operators.dedup import COSINE_DUP_THRESHOLD, _make_lsh_udfs

    lsh_bands = bands_t.latest_manifest_field("lsh_bands")
    lsh_bits = bands_t.latest_manifest_field("lsh_bits")
    if lsh_bands is None or lsh_bits is None:
        raise ValueError(
            f"{bands_t.path}: no recorded LSH layout — backfill requires "
            "a bands table written by the applier or the bulk bootstrap"
        )
    _, pair_dot = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    bands = bands_t.read(spark)
    nv = vecs_t.read(spark)
    within = (
        bands.select(F.col("vec_id").alias("va"), "bk")
        .join(bands.select(F.col("vec_id").alias("vb"), "bk"), "bk")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )
    va_vec = nv.select(F.col("vec_id").alias("va"), F.col("v").alias("veca"))
    vb_vec = nv.select(F.col("vec_id").alias("vb"), F.col("v").alias("vecb"))
    verified = (
        within.join(va_vec, "va")
        .join(vb_vec, "vb")
        .select(
            "va", "vb", pair_dot(F.col("veca"), F.col("vecb")).alias("cos")
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select("va", "vb")
    )
    missing = verified.join(
        pairs_t.read(spark), ["va", "vb"], "left_anti"
    ).localCheckpoint(eager=True)
    n = missing.count()
    if n:
        # append carries the parent's extra fields (the replay cursor)
        # forward — the backfill is cursor-neutral by construction
        pairs_t.commit(missing, mode="append")
    return n


def serve_semantic_pairs(spark, pairs_t, groups_t, members_t):
    """The query half: expand stored CANONICAL pairs to member pairs.
    Cross-group pairs carry over to every member combination (identical
    vectors share the canonicals' cosine exactly); within-group, members
    of any selfdup group of >= 2 are identical vectors whose pair clears
    the threshold by the canonical's own self-cosine. Output-proportional
    joins; the answer itself is quadratic only inside dup cliques."""
    rep = pairs_t.read(spark).select("va", "vb")
    mem = members_t.read(spark).select("vec_id", "gid")
    ma = mem.select(F.col("gid").alias("va"), F.col("vec_id").alias("xa"))
    mb = mem.select(F.col("gid").alias("vb"), F.col("vec_id").alias("xb"))
    cross = (
        rep.join(ma, "va")
        .join(mb, "vb")
        .select(
            F.least("xa", "xb").alias("va"),
            F.greatest("xa", "xb").alias("vb"),
        )
    )
    wg = (
        groups_t.read(spark)
        .where((F.col("n_members") >= 2) & F.col("selfdup"))
        .select("gid")
    )
    wm = mem.join(wg, "gid")
    within = (
        wm.select("gid", F.col("vec_id").alias("va"))
        .join(wm.select("gid", F.col("vec_id").alias("vb")), "gid")
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb")
    )
    return cross.unionByName(within)


def _build_semantic_index(spark: SparkSession, sf_dir: str, name: str):
    """Run the 4-batch embeddings stream through the semantic near-dup
    applier into a fresh five-table state."""
    from ..operators.dedup import LSH_BANDS
    from .ingest import minhash_index_buckets_for

    d = stage_embeddings(sf_dir, "semantic_index")
    work = fresh_work_dir(name)
    pairs_t = SnapshotTable(os.path.join(work, "pairs"))
    bands_t = SnapshotTable(os.path.join(work, "bands"))
    vecs_t = SnapshotTable(os.path.join(work, "vecs"))
    groups_t = SnapshotTable(os.path.join(work, "groups"))
    members_t = SnapshotTable(os.path.join(work, "members"))
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    band_buckets = minhash_index_buckets_for(n_vecs * LSH_BANDS)
    vec_buckets = minhash_index_buckets_for(n_vecs)
    group_buckets = minhash_index_buckets_for(n_vecs)
    member_buckets = minhash_index_buckets_for(n_vecs)
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        src.writeStream.foreachBatch(
            make_semantic_index_applier(
                pairs_t,
                bands_t,
                vecs_t,
                groups_t,
                members_t,
                band_buckets=band_buckets,
                vec_buckets=vec_buckets,
                group_buckets=group_buckets,
                member_buckets=member_buckets,
            )
        )
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        pairs_t,
        bands_t,
        vecs_t,
        groups_t,
        members_t,
        (band_buckets, vec_buckets, group_buckets, member_buckets),
    )


from ..operators.dedup import EMB_LSH_SQL as _emb_lsh_sql  # noqa: E402


@register(
    "streaming_semantic_index",
    _emb_lsh_sql,
    doc="STREAMING SEMANTIC NEAR-DUP INDEX (r12) — the online-ingestion "
    "shape of dedup_embedding_lsh, completing streaming near-dup with "
    "the semantic member (lexical minhash shipped r11): embeddings "
    "stream in 4 micro-batches; each batch first collapses against a "
    "persisted xxhash64-vector GROUPS table (the batch operator's "
    "exact-vector-collapse applied online), so only FIRST-ARRIVAL "
    "canonicals are normalized, sign-banded (16 bands x 4 seeded-"
    "hyperplane bits, Arrow-vectorized), probed against the stored "
    "bk-bucketed band index (In(bk) pushdown — probe bytes track the "
    "batch), and exact-cosine verified against ONLY candidate history "
    "vectors (bucket-pruned VECS read semi-joined to a DISTRIBUTED "
    "anti-join id frame — no candidate id rides through the driver). "
    "Verified canonical pairs append; the serve side expands them "
    "through membership (identical vectors share the canonical's cosine "
    "exactly; a selfdup flag keeps degenerate zero vectors out). The "
    "oracle is dedup_embedding_lsh's whole-corpus SQL VERBATIM — the "
    "value hash proves maintained == recomputed, arrival-order "
    "independent. Five last_batch_id cursors guard at-least-once "
    "replays (commit order PAIRS -> BANDS -> VECS -> GROUPS -> "
    "MEMBERS); append-mode buckets LSM-fold via compact_appended. "
    "Recall is the batch operator's EXACTLY (shared planes, threshold, "
    "collapse): streaming == dedup_embedding_lsh pytest-pinned, and at "
    "sf0.1 both serve the identical pair set (the all-pairs oracle "
    "holds 3 more there — the documented analytic-recall property; at "
    "the driver's gate scales both match the oracle exactly).",
)
def q_streaming_semantic_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs_t, _, _, groups_t, members_t, _ = _build_semantic_index(
        spark, sf_dir, "streaming_semantic_index"
    )
    return serve_semantic_pairs(spark, pairs_t, groups_t, members_t)


@register(
    "streaming_semantic_index_bulk_bootstrap",
    _emb_lsh_sql,
    doc="BULK BOOTSTRAP + STREAMING CONTINUATION for the semantic index "
    "(r15): a 100-TB index over an EXISTING corpus is never built by "
    "replaying the corpus through the applier in chunks — each chunk's "
    "probe pays O(chunk x N/2^r) against everything already stored, "
    "which integrates to the batch operator's O(N^2/2^r) spread over "
    "thousands of sequential driver jobs (measured ~23 h at 10^6 "
    "vectors single-host, SCALING.md r15). bulk_seed_semantic_index "
    "stands the five-table state up in ONE batch build — pinned "
    "content-identical to the chunked ingest by pytest — and the "
    "stream takes over on the cursors it seeded. Here: the first half "
    "of the staged corpus bootstraps (full pair backlog), the second "
    "half streams through the applier, and the oracle is "
    "dedup_embedding_lsh's whole-corpus SQL VERBATIM — the hash proves "
    "bootstrap + continuation == recomputed-from-scratch.",
)
def q_streaming_semantic_index_bulk_bootstrap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _bootstrap_then_stream_semantic(
        spark, sf_dir, "streaming_semantic_index_bulk_bootstrap", True
    )


@register(
    "streaming_semantic_index_deferred_backfill",
    _emb_lsh_sql,
    doc="DEFERRED-BACKLOG BOOTSTRAP + BACKFILL for the semantic index "
    "(r15): the single-host-scale bootstrap path end-to-end — "
    "bulk_seed_semantic_index(with_pairs=False) stands the index up "
    "WITHOUT the O(N^2/2^r) pair-discovery join (the mode "
    "tools/semantic_growth_measure.py --bulk used for the measured "
    "10^6-vector leg), the stream continues on the seeded cursors "
    "discovering its own post-bootstrap pairs, and ONE "
    "backfill_semantic_pairs batch run then recomputes the banded join "
    "+ exact-cosine verify over the STORED canonicals, anti-joins the "
    "pairs already found, and appends only the deferred mass "
    "(idempotent, cursor-neutral). The oracle is dedup_embedding_lsh's "
    "whole-corpus SQL VERBATIM — the hash proves deferred bootstrap + "
    "continuation + backfill == recomputed-from-scratch, closing the "
    "one gap the with_pairs=False mode leaves open.",
)
def q_streaming_semantic_index_deferred_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _bootstrap_then_stream_semantic(
        spark, sf_dir, "streaming_semantic_index_deferred_backfill", False
    )


def _bootstrap_then_stream_semantic(
    spark: SparkSession, sf_dir: str, name: str, with_pairs: bool
) -> DataFrame:
    import shutil

    from ..operators.dedup import LSH_BANDS
    from .ingest import minhash_index_buckets_for

    d = stage_embeddings(sf_dir, "semantic_index")
    parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    work = fresh_work_dir(name)
    names = ("pairs", "bands", "vecs", "groups", "members")
    pairs_t, bands_t, vecs_t, groups_t, members_t = (
        SnapshotTable(os.path.join(work, n)) for n in names
    )
    n_vecs = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).count()
    bk = dict(
        band_buckets=minhash_index_buckets_for(n_vecs * LSH_BANDS),
        vec_buckets=minhash_index_buckets_for(n_vecs),
        group_buckets=minhash_index_buckets_for(n_vecs),
        member_buckets=minhash_index_buckets_for(n_vecs),
    )
    half = max(1, len(parts) // 2)
    bulk_seed_semantic_index(
        spark, pairs_t, bands_t, vecs_t, groups_t, members_t,
        spark.read.parquet(*[os.path.join(d, f) for f in parts[:half]]),
        batch_id=-1,  # stream batch ids start at 0
        with_pairs=with_pairs,
        **bk,
    )
    drop = os.path.join(work, "drop")
    os.makedirs(drop, exist_ok=True)
    for f in parts[half:]:
        shutil.copy2(os.path.join(d, f), os.path.join(drop, f))
    src = (
        spark.readStream.schema(EMB_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        src.writeStream.foreachBatch(
            make_semantic_index_applier(
                pairs_t, bands_t, vecs_t, groups_t, members_t, **bk
            )
        )
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not with_pairs:
        backfill_semantic_pairs(spark, pairs_t, bands_t, vecs_t)
    return serve_semantic_pairs(spark, pairs_t, groups_t, members_t)


def _clear_semantic_signature(
    spark: SparkSession,
    gid: int,
    pairs_t,
    bands_t,
    vecs_t,
    band_buckets: int,
    vec_buckets: int,
    band_codes,
    lsh_bits: int,
) -> None:
    """Remove an emptied group's canonical signature from every surface
    — pairs (COW delete), band rows (bk set recomputed from the stored
    normalized vector: read before delete), then the VECS row. COMMIT
    ORDER IS LOAD-BEARING (r13, ADVICE): the VECS row is the ONLY source
    for recomputing the canonical's bk set, so it must be deleted LAST —
    derived surfaces first, recompute source last. The previous order
    (VECS before BANDS) had a crash window in which the band rows leaked
    FOREVER: the retry found no stored vector, recomputed an empty bk
    set, and returned, retaining derived data of an erased vector.
    IDEMPOTENT AND RESUMABLE: a retry after any crash converges — while
    the VECS row survives, the bk set recomputes identically and the
    band delete no-ops if already applied; once the VECS row is gone,
    every derived surface is guaranteed already cleared."""
    id_bucket = SnapshotTable.bucket_of(F.col("vec_id"), vec_buckets)
    bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
    pairs_t.delete_where(spark, f"va = {gid} OR vb = {gid}")
    vb_ = SnapshotTable.bucket_ids(spark, [gid], "vec_id long", id_bucket)[0]
    bucket_v = vecs_t.read_buckets(
        spark, [vb_], _SEM_VECS_SCHEMA, n_buckets=vec_buckets
    ).localCheckpoint(eager=True)
    doc_v = bucket_v.where(F.col("vec_id") == gid)
    doc_bks = [
        r["bk"]
        for r in doc_v.select(
            F.posexplode(band_codes("v")).alias("band", "code")
        )
        .select(
            (
                F.col("band").cast("long") * (1 << lsh_bits)
                + F.col("code")
            ).alias("bk")
        )
        .distinct()
        .collect()
    ]
    if not doc_bks:
        # no stored vector: the clear already completed (or the vector
        # never reached VECS) — every derived surface is already gone
        return
    bb = SnapshotTable.bucket_ids(spark, doc_bks, "bk long", bk_bucket)
    bucket_b = bands_t.read_buckets(
        spark, bb, _SEM_BANDS_SCHEMA, n_buckets=band_buckets
    ).localCheckpoint(eager=True)
    bands_t.commit_buckets(
        bucket_b.where(F.col("vec_id") != gid).withColumn(
            "_bucket", bk_bucket
        ),
        bb,
        n_buckets=band_buckets,
    )
    vecs_t.commit_buckets(
        bucket_v.where(F.col("vec_id") != gid).withColumn(
            "_bucket", id_bucket
        ),
        [vb_],
        n_buckets=vec_buckets,
    )


def erase_semantic_vec(
    spark: SparkSession,
    erase: int,
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    lsh_bands: int | None = None,
    lsh_bits: int | None = None,
) -> None:
    """GDPR erase from the semantic index, collapse-aware (mirrors the
    minhash index's erase, streaming/ingest.py): drop the MEMBERS row
    (one bucket); while exact copies survive, only decrement the group —
    the canonical signature must stay serveable (the oracle's recompute
    over the remaining vectors still contains that vector content). Only
    the LAST member's erase clears the signature: pairs COW-delete,
    the canonical's band rows leave their ≤ LSH_BANDS bk buckets (bk set
    recomputed from the stored normalized vector first — read before
    delete), and the VECS row leaves its bucket. The gid is a stable
    group KEY, not a live doc reference; served pairs only emit ids from
    MEMBERS, so the erased id is unreachable once its member row is
    gone."""
    from ..operators.dedup import LSH_BANDS, LSH_BITS_PER_BAND, _make_lsh_udfs

    # the BANDS manifest records the layout the index was BUILT with —
    # always preferred over caller args (a mismatched recompute of bk
    # would silently delete nothing: a GDPR retention leak)
    lsh_bands = (
        bands_t.latest_manifest_field("lsh_bands") or lsh_bands or LSH_BANDS
    )
    lsh_bits = (
        bands_t.latest_manifest_field("lsh_bits") or lsh_bits or LSH_BITS_PER_BAND
    )
    band_codes, _ = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    id_bucket = SnapshotTable.bucket_of(F.col("vec_id"), vec_buckets)
    bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
    # 1) membership: locate + drop, one bucket
    mb = SnapshotTable.bucket_ids(spark, [erase], "vec_id long", mem_bucket)[0]
    bucket_mem = members_t.read_buckets(
        spark, [mb], _SEM_MEMBERS_SCHEMA, n_buckets=member_buckets
    ).localCheckpoint(eager=True)
    row = bucket_mem.where(F.col("vec_id") == erase).first()
    if row is None:
        return  # unknown vector — nothing to erase
    gid, vh = row["gid"], row["vh"]
    # 2) group bookkeeping: one vh bucket
    gb = SnapshotTable.bucket_ids(spark, [vh], "vh long", vh_bucket)[0]
    bucket_g = groups_t.read_buckets(
        spark, [gb], _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
    ).localCheckpoint(eager=True)

    def drop_member_row():
        members_t.commit_buckets(
            bucket_mem.where(F.col("vec_id") != erase).withColumn(
                "_bucket", mem_bucket
            ),
            [mb],
            n_buckets=member_buckets,
        )

    grow = bucket_g.where(F.col("vh") == vh).first()
    n_mem = grow["n_members"] if grow is not None else 1
    if n_mem > 1:
        # copies survive: member row out, counter down. The crash window
        # between the two commits leaves the counter high — detectable
        # and repairable by audit_and_repair_semantic_index (fsck).
        drop_member_row()
        groups_t.commit_buckets(
            bucket_g.withColumn(
                "n_members",
                F.when(
                    F.col("vh") == vh, F.col("n_members") - 1
                ).otherwise(F.col("n_members")),
            ).withColumn("_bucket", vh_bucket),
            [gb],
            n_buckets=group_buckets,
        )
        return
    # LAST member: clear the signature FIRST (idempotent — see
    # _clear_semantic_signature), so a crash anywhere in this path makes
    # a plain retry converge (the member row is still present, n_mem is
    # still 1, the re-clear is a no-op); member and group rows leave last.
    # PENDING-CLEAR MARKER (r13, mirrors the minhash erase): commits into
    # the GROUPS manifest before any clear damage and leaves atomically
    # with the group-row drop, so a copy arriving before the retry fails
    # loudly in the applier instead of resurrecting the group around a
    # half-cleared signature; the fsck completes a marked erase.
    token = f"{gid}@{vh}"
    pending = groups_t.latest_manifest_field("pending_clear") or None
    if pending and pending != token:
        raise ValueError(
            f"a last-member erase is pending for another group "
            f"({pending!r}) — retry it or run "
            "audit_and_repair_semantic_index before starting this one"
        )
    if pending != token:
        groups_t.commit_metadata({"pending_clear": token})
    _clear_semantic_signature(
        spark, gid, pairs_t, bands_t, vecs_t,
        band_buckets, vec_buckets, band_codes, lsh_bits,
    )
    drop_member_row()
    groups_t.commit_buckets(
        bucket_g.where(F.col("vh") != vh).withColumn("_bucket", vh_bucket),
        [gb],
        n_buckets=group_buckets,
        extra={"pending_clear": ""},  # cleared atomically with the drop
    )


from ..operators.dedup import COSINE_DUP_THRESHOLD as _SEM_COS_TAU  # noqa: E402

_SEM_DELETE_SQL = f"""WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id <> (SELECT MAX(vec_id) FROM embeddings)
),
nrm AS (
    SELECT vec_id, embedding, {V.norm_sql('embedding')} AS n FROM base
),
nv AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS v
    FROM nrm
)
SELECT a.vec_id AS va, b.vec_id AS vb
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE {V.dot_sql('a.v', 'b.v')} >= {_SEM_COS_TAU}"""


@register(
    "streaming_semantic_index_delete",
    _SEM_DELETE_SQL,
    doc="GDPR ERASE-AND-SERVE on the streaming semantic index (r12), "
    "collapse-aware like the minhash erase: after the 4-batch build, one "
    "vector (the max vec_id) is erased END-TO-END — its MEMBERS row "
    "leaves its bucket; while exact copies survive only the group "
    "decrements (the canonical signature must stay serveable, which is "
    "what the corpus-minus-vector oracle computes); the LAST member's "
    "erase deletes the canonical's pairs copy-on-write and removes its "
    "band rows (<= LSH_BANDS bk buckets, recomputed read-before-delete "
    "from the stored normalized vector) and its VECS row, every calm "
    "bucket carrying over by reference. The oracle recomputes "
    "dedup_embedding_lsh's whole answer over embeddings MINUS the erased "
    "vector — the value hash proves the vector unreachable through "
    "every serve path.",
)
def q_streaming_semantic_index_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = int(_corpus(spark, sf_dir).agg(F.max("vec_id")).first()[0])
    pairs_t, bands_t, vecs_t, groups_t, members_t, bk = _build_semantic_index(
        spark, sf_dir, "streaming_semantic_index_delete"
    )
    erase_semantic_vec(
        spark, ev, pairs_t, bands_t, vecs_t, groups_t, members_t, *bk
    )
    return serve_semantic_pairs(spark, pairs_t, groups_t, members_t)


_SEM_BATCH_DELETE_SQL = f"""WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE vec_id NOT IN
        (SELECT vec_id FROM embeddings ORDER BY vec_id DESC LIMIT 3)
),
nrm AS (
    SELECT vec_id, embedding, {V.norm_sql('embedding')} AS n FROM base
),
nv AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE) / n) AS v
    FROM nrm
)
SELECT a.vec_id AS va, b.vec_id AS vb
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE {V.dot_sql('a.v', 'b.v')} >= {_SEM_COS_TAU}"""


@register(
    "streaming_semantic_index_batch_delete",
    _SEM_BATCH_DELETE_SQL,
    doc="BATCH GDPR erase-and-serve on the streaming semantic index "
    "(r14, VERDICT r13 ask 4 — the twin of "
    "streaming_minhash_index_batch_delete): the THREE highest vec_ids "
    "are erased in ONE erase_semantic_vecs call, which orders the group "
    "clears internally around the single pending_clear marker "
    "(resolve-then-next; mid-batch crash recovery = re-running the same "
    "call, drilled in pytest). The oracle recomputes "
    "dedup_embedding_lsh's whole answer over embeddings MINUS the three "
    "vectors — the hash proves each erased vector unreachable through "
    "every serve path while every surviving pair survives.",
)
def q_streaming_semantic_index_batch_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    top3 = [
        int(r[0])
        for r in _corpus(spark, sf_dir)
        .select("vec_id")
        .orderBy(F.desc("vec_id"))
        .limit(3)
        .collect()
    ]
    pairs_t, bands_t, vecs_t, groups_t, members_t, bk = _build_semantic_index(
        spark, sf_dir, "streaming_semantic_index_batch_delete"
    )
    erase_semantic_vecs(
        spark, top3, pairs_t, bands_t, vecs_t, groups_t, members_t, *bk
    )
    return serve_semantic_pairs(spark, pairs_t, groups_t, members_t)


def _resolve_pending_semantic_clear(
    spark: SparkSession,
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    band_codes,
    lsh_bits: int,
    pending: str,
) -> None:
    """Complete a marked last-member erase END-TO-END (the semantic
    fsck's phase 0, factored out in r14 for the batch erase entry
    point): idempotent signature re-clear, then the victim's member row
    and the group row leave, the marker clearing atomically with the
    group-row drop."""
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    pgid = int(pending.split("@", 1)[0])
    pvh = int(pending.split("@", 1)[1])
    _clear_semantic_signature(
        spark, pgid, pairs_t, bands_t, vecs_t,
        band_buckets, vec_buckets, band_codes, lsh_bits,
    )
    mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)
    if members_t.latest_version() > 0:
        victims = (
            members_t.read(spark)
            .where(F.col("vh") == pvh)
            .select("vec_id", mem_bucket.alias("_b"))
            .collect()  # the interrupted group's sole member, if any
        )
        if victims:
            vb = sorted({r["_b"] for r in victims})
            bucket_mem = members_t.read_buckets(
                spark, vb, _SEM_MEMBERS_SCHEMA, n_buckets=member_buckets
            ).localCheckpoint(eager=True)
            members_t.commit_buckets(
                bucket_mem.where(F.col("vh") != pvh).withColumn(
                    "_bucket", mem_bucket
                ),
                vb,
                n_buckets=member_buckets,
            )
    pgb = SnapshotTable.bucket_ids(spark, [pvh], "vh long", vh_bucket)[0]
    bucket_g0 = groups_t.read_buckets(
        spark, [pgb], _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
    ).localCheckpoint(eager=True)
    groups_t.commit_buckets(
        bucket_g0.where(F.col("vh") != pvh).withColumn(
            "_bucket", vh_bucket
        ),
        [pgb],
        n_buckets=group_buckets,
        extra={"pending_clear": ""},
    )


def _apply_semantic_group_sync(
    spark: SparkSession, groups_t, members_t, group_buckets: int
) -> bool:
    """Apply (idempotently) the ABSOLUTE group-counter targets a batch
    erase recorded atomically with its MEMBERS bulk delete
    (``pending_group_sync`` in the MEMBERS manifest), then clear the
    marker — the semantic twin of ingest._apply_minhash_group_sync."""
    sync = members_t.latest_manifest_field("pending_group_sync") or None
    if not sync:
        return False
    targets = json.loads(sync)  # {str(vh): surviving n_members}
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    corr = local_frame(
        spark,
        [(int(v), int(n)) for v, n in sorted(targets.items())],
        "vh long, _target long",
    )
    gb = SnapshotTable.bucket_ids(
        spark, [int(v) for v in targets], "vh long", vh_bucket
    )
    bucket_g = groups_t.read_buckets(
        spark, gb, _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
    ).localCheckpoint(eager=True)
    groups_t.commit_buckets(
        bucket_g.join(F.broadcast(corr), "vh", "left")
        .select(
            "vh",
            "gid",
            "selfdup",
            F.coalesce("_target", "n_members").alias("n_members"),
        )
        .withColumn("_bucket", vh_bucket),
        gb,
        n_buckets=group_buckets,
    )
    members_t.commit_metadata({"pending_group_sync": ""})
    return True


def _clear_semantic_group(
    spark: SparkSession,
    gid: int,
    vh: int,
    vec_ids: list[int],
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    band_codes,
    lsh_bits: int,
) -> None:
    """Erase a group the batch EMPTIES — the single erase's last-member
    path generalized to several member rows leaving at once, marker-
    guarded and retry-convergent exactly like the single path. Drops
    ONLY the erased member rows (never vh-wide): a stale-high counter
    must not take innocent members down — GDPR tooling erases what was
    asked; orphans are the fsck's to adjudicate."""
    mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    token = f"{gid}@{vh}"
    pending = groups_t.latest_manifest_field("pending_clear") or None
    if pending and pending != token:
        raise ValueError(
            f"a last-member erase is pending for another group "
            f"({pending!r}) — retry it or run "
            "audit_and_repair_semantic_index before starting this one"
        )
    if pending != token:
        groups_t.commit_metadata({"pending_clear": token})
    _clear_semantic_signature(
        spark, gid, pairs_t, bands_t, vecs_t,
        band_buckets, vec_buckets, band_codes, lsh_bits,
    )
    mb = SnapshotTable.bucket_ids(spark, vec_ids, "vec_id long", mem_bucket)
    bucket_mem = members_t.read_buckets(
        spark, mb, _SEM_MEMBERS_SCHEMA, n_buckets=member_buckets
    ).localCheckpoint(eager=True)
    members_t.commit_buckets(
        bucket_mem.where(~F.col("vec_id").isin(vec_ids)).withColumn(
            "_bucket", mem_bucket
        ),
        mb,
        n_buckets=member_buckets,
    )
    gb = SnapshotTable.bucket_ids(spark, [vh], "vh long", vh_bucket)[0]
    bucket_g = groups_t.read_buckets(
        spark, [gb], _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
    ).localCheckpoint(eager=True)
    groups_t.commit_buckets(
        bucket_g.where(F.col("vh") != vh).withColumn("_bucket", vh_bucket),
        [gb],
        n_buckets=group_buckets,
        extra={"pending_clear": ""},  # cleared atomically with the drop
    )


def erase_semantic_vecs(
    spark: SparkSession,
    ids,
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
) -> None:
    """Batch GDPR erase for the semantic index — SET-ORIENTED (r15,
    VERDICT r14 ask 1; the twin of
    streaming/ingest.py erase_docs_from_minhash_index, same three-phase
    shape and crash story):

    1. PARTITION the id list once (bucket-pruned MEMBERS + GROUPS
       reads, driver rows bounded by len(ids)) into groups the batch
       EMPTIES vs groups that SURVIVE with a smaller count.
    2. Emptied groups (rare) clear one at a time in gid order through
       the single-field ``pending_clear`` marker protocol.
    3. The survivor mass erases in THREE commits regardless of N: one
       ``delete_where(vec_id IN ...)`` MEMBERS delete that atomically
       records the groups' ABSOLUTE surviving counts in a
       ``pending_group_sync`` marker, one bucket-set GROUPS rewrite
       applying them, and the marker-clear metadata commit.

    Crash anywhere -> re-running the SAME call converges: phase 0
    resolves/applies both marker kinds, and already-erased ids no
    longer match the re-partition."""
    from ..operators.dedup import LSH_BANDS, LSH_BITS_PER_BAND, _make_lsh_udfs

    ids = sorted({int(i) for i in ids})
    if not ids or members_t.latest_version() == 0:
        return
    lsh_bands = bands_t.latest_manifest_field("lsh_bands") or LSH_BANDS
    lsh_bits = bands_t.latest_manifest_field("lsh_bits") or LSH_BITS_PER_BAND
    band_codes, _ = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    mem_bucket = SnapshotTable.bucket_of(F.col("vec_id"), member_buckets)
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    # phase 0: resolve leftovers of any crashed erase (single or batch)
    pending = groups_t.latest_manifest_field("pending_clear") or None
    if pending:
        _resolve_pending_semantic_clear(
            spark, pairs_t, bands_t, vecs_t, groups_t, members_t,
            band_buckets, vec_buckets, group_buckets, member_buckets,
            band_codes, lsh_bits, pending,
        )
    _apply_semantic_group_sync(spark, groups_t, members_t, group_buckets)
    # phase 1: partition
    mb = SnapshotTable.bucket_ids(spark, ids, "vec_id long", mem_bucket)
    mrows = (
        members_t.read_buckets(
            spark, mb, _SEM_MEMBERS_SCHEMA, n_buckets=member_buckets
        )
        .where(F.col("vec_id").isin(ids))
        .select("vec_id", "gid", "vh")
        .collect()  # <= len(ids) rows
    )
    if not mrows:
        return
    by_vh: dict[int, tuple[int, list[int]]] = {}
    for r in mrows:
        by_vh.setdefault(int(r["vh"]), (int(r["gid"]), []))[1].append(
            int(r["vec_id"])
        )
    vhs = sorted(by_vh)
    gb = SnapshotTable.bucket_ids(spark, vhs, "vh long", vh_bucket)
    gcount = {
        int(r["vh"]): int(r["n_members"])
        for r in groups_t.read_buckets(
            spark, gb, _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
        )
        .where(F.col("vh").isin(vhs))
        .select("vh", "n_members")
        .collect()  # <= len(ids) groups
    }
    empties: list[tuple[int, int, list[int]]] = []
    survive_targets: dict[str, int] = {}
    survive_ids: list[int] = []
    for vh, (gid, vids) in by_vh.items():
        n_mem = gcount.get(vh, 1)  # missing group row counts as 1
        if len(vids) >= n_mem:
            empties.append((gid, vh, sorted(vids)))
        else:
            survive_targets[str(vh)] = n_mem - len(vids)
            survive_ids.extend(vids)
    # phase 2: emptied groups, serialized via pending_clear
    for gid, vh, vids in sorted(empties):
        _clear_semantic_group(
            spark, gid, vh, vids, pairs_t, bands_t, vecs_t, groups_t,
            members_t, band_buckets, vec_buckets, group_buckets,
            member_buckets, band_codes, lsh_bits,
        )
    # phase 3: the survivor mass — three commits regardless of N
    if survive_ids:
        in_list = ", ".join(str(i) for i in sorted(survive_ids))
        members_t.delete_where(
            spark,
            f"vec_id IN ({in_list})",
            extra={
                "pending_group_sync": json.dumps(
                    survive_targets, sort_keys=True
                )
            },
        )
        _apply_semantic_group_sync(spark, groups_t, members_t, group_buckets)


def audit_and_repair_semantic_index(
    spark: SparkSession,
    pairs_t,
    bands_t,
    vecs_t,
    groups_t,
    members_t,
    band_buckets: int,
    vec_buckets: int,
    group_buckets: int,
    member_buckets: int,
    aggregate_only: bool = False,
) -> list[dict]:
    """fsck for the collapse front (the table-format answer to the one
    non-resumable erase window): recompute every group's live member
    count from the MEMBERS relation — one full scan, this is an AUDIT,
    not a serve path — and repair what a torn multi-member erase can
    leave behind (a crash between the MEMBERS and GROUPS commits leaves
    ``n_members`` one high; a later last-member erase would then take
    the decrement-only path and retain the signature forever):

    - counter drift (stored n_members != live count, live > 0): rewrite
      only the affected vh buckets with the true counts;
    - orphaned groups (0 live members): complete the interrupted erase —
      clear the canonical signature (idempotent) and drop the group row;
    - orphaned BAND rows (vec_ids with no VECS row — the permanent leak
      a pre-r13 clear's crash window could leave, r13 ADVICE): purge
      them from their bk buckets. The r13 commit order (bands before
      vecs) can no longer produce this state; the check keeps the
      retention guarantee AUDITABLE rather than assumed.

    Returns the repair report (one dict per repaired group); an empty
    list means the index is consistent. Run after any crashed erase, or
    periodically the way real table formats schedule fsck/maintenance.

    Repair-report collects are capped at FSCK_REPORT_CAP with a
    fail-loud overflow (r14); ``aggregate_only=True`` is the escape
    hatch — a REPORT-ONLY census (per-bucket drift / orphan counts,
    pending-marker state; nothing collected, nothing repaired) for
    sizing systematic damage."""
    from collections import defaultdict

    from ..operators.dedup import LSH_BANDS, LSH_BITS_PER_BAND, _make_lsh_udfs
    from .ingest import _bounded_fsck_collect

    lsh_bands = bands_t.latest_manifest_field("lsh_bands") or LSH_BANDS
    lsh_bits = bands_t.latest_manifest_field("lsh_bits") or LSH_BITS_PER_BAND
    band_codes, _ = _make_lsh_udfs(bands=lsh_bands, bits=lsh_bits)
    vh_bucket = SnapshotTable.bucket_of(F.col("vh"), group_buckets)
    if groups_t.latest_version() == 0:
        return []
    report = []
    if aggregate_only:
        pending = groups_t.latest_manifest_field("pending_clear") or None
        if pending:
            report.append({"kind": "pending_clear", "marker": pending})
        sync = members_t.latest_manifest_field("pending_group_sync") or None
        if sync:
            report.append({"kind": "pending_group_sync", "marker": sync})
        live = (
            members_t.read(spark)
            .groupBy("vh")
            .agg(F.count("*").alias("live_n"))
        )
        census = (
            groups_t.read(spark)
            .join(live, "vh", "left")
            .withColumn("live_n", F.coalesce("live_n", F.lit(0)))
            .where(F.col("n_members") != F.col("live_n"))
            .groupBy(vh_bucket.alias("bucket"))
            .agg(F.count("*").alias("n_drifted"))
            .orderBy("bucket")
            .collect()  # <= group_buckets rows by construction
        )
        report.extend(
            {
                "kind": "group_drift_census",
                "bucket": r["bucket"],
                "n_drifted": r["n_drifted"],
            }
            for r in census
        )
        if bands_t.latest_version() > 0 and vecs_t.latest_version() > 0:
            bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
            orphan_census = (
                bands_t.read(spark)
                .join(
                    vecs_t.read(spark).select("vec_id"), "vec_id", "left_anti"
                )
                .groupBy(bk_bucket.alias("bucket"))
                .agg(F.count_distinct("vec_id").alias("n_orphan_vecs"))
                .orderBy("bucket")
                .collect()  # <= band_buckets rows by construction
            )
            report.extend(
                {
                    "kind": "orphan_bands_census",
                    "bucket": r["bucket"],
                    "n_orphan_vecs": r["n_orphan_vecs"],
                }
                for r in orphan_census
            )
        return report
    # phase 0 (r13, mirrors the minhash fsck): complete a marked
    # last-member erase end-to-end before auditing anything else
    pending = groups_t.latest_manifest_field("pending_clear") or None
    if pending:
        _resolve_pending_semantic_clear(
            spark, pairs_t, bands_t, vecs_t, groups_t, members_t,
            band_buckets, vec_buckets, group_buckets, member_buckets,
            band_codes, lsh_bits, pending,
        )
        report.append(
            {"pending": pending, "action": "pending_clear_completed"}
        )
    # phase 0b (r15): a pending group-count sync from a torn BATCH erase
    # — apply the recorded absolute targets (idempotent) + clear marker
    sync = members_t.latest_manifest_field("pending_group_sync") or None
    if sync:
        _apply_semantic_group_sync(spark, groups_t, members_t, group_buckets)
        report.append(
            {"pending": sync, "action": "pending_group_sync_applied"}
        )
    live = (
        members_t.read(spark)
        .groupBy("vh")
        .agg(F.count("*").alias("live_n"))
    )
    drift = _bounded_fsck_collect(
        groups_t.read(spark)
        .join(live, "vh", "left")
        .withColumn("live_n", F.coalesce("live_n", F.lit(0)))
        .where(F.col("n_members") != F.col("live_n"))
        .select("vh", "gid", "n_members", "live_n", vh_bucket.alias("_b")),
        "semantic group counters",
    )
    if drift:
        by_bucket: dict[int, list] = defaultdict(list)
        for r in drift:
            by_bucket[r["_b"]].append(r)
            report.append(
                {
                    "vh": r["vh"],
                    "gid": r["gid"],
                    "stored_n": r["n_members"],
                    "live_n": r["live_n"],
                    "action": "dropped" if r["live_n"] == 0 else "recounted",
                }
            )
        for r in drift:
            if r["live_n"] == 0:
                _clear_semantic_signature(
                    spark, r["gid"], pairs_t, bands_t, vecs_t,
                    band_buckets, vec_buckets, band_codes, lsh_bits,
                )
        for b, rows in by_bucket.items():
            corr = local_frame(
                spark,
                [(r["vh"], r["live_n"]) for r in rows], "vh long, true_n long"
            )
            bucket_g = groups_t.read_buckets(
                spark, [b], _SEM_GROUPS_SCHEMA, n_buckets=group_buckets
            )
            fixed = (
                bucket_g.join(F.broadcast(corr), "vh", "left")
                .where(F.coalesce(F.col("true_n"), F.lit(1)) > 0)
                .select(
                    "vh",
                    "gid",
                    "selfdup",
                    F.coalesce("true_n", "n_members").alias("n_members"),
                )
            )
            groups_t.commit_buckets(
                fixed.withColumn("_bucket", vh_bucket),
                [b],
                n_buckets=group_buckets,
            )
    # phase 2 (r13): orphaned band rows — vec_ids in BANDS with no VECS
    # row. The r13 clear order (bands first, vecs last) cannot create
    # them; a pre-r13 crash could, permanently. One anti-join over the
    # audit scan detects; the purge rewrites only the orphans' bk buckets.
    if bands_t.latest_version() > 0 and vecs_t.latest_version() > 0:
        bk_bucket = SnapshotTable.bucket_of(F.col("bk"), band_buckets)
        bands_all = bands_t.read(spark)
        orphan_rows = bands_all.join(
            vecs_t.read(spark).select("vec_id"), "vec_id", "left_anti"
        )
        orphans = _bounded_fsck_collect(
            orphan_rows.select("vec_id", bk_bucket.alias("_b")).distinct(),
            "semantic orphan band rows",
        )
        if orphans:
            orphan_ids = sorted({r["vec_id"] for r in orphans})
            bb = sorted({r["_b"] for r in orphans})
            bucket_b = bands_t.read_buckets(
                spark, bb, _SEM_BANDS_SCHEMA, n_buckets=band_buckets
            ).localCheckpoint(eager=True)
            bands_t.commit_buckets(
                bucket_b.where(~F.col("vec_id").isin(orphan_ids)).withColumn(
                    "_bucket", bk_bucket
                ),
                bb,
                n_buckets=band_buckets,
            )
            report.extend(
                {"vec_id": i, "action": "orphan_bands_purged"}
                for i in orphan_ids
            )
    return report
