"""Job-count pins for the snapshot layer and the two near-dup index
kernels, plus the rule that keeps them low: driver-built relations go
through ``snapshots.local_frame`` (an Arrow local relation) and snapshot
reads are typed by the manifest's recorded schema.

Spark job counts do not depend on the host, so these pins are the
regression signal for per-call overhead: a stray Python-RDD frame or a
footer-inference read shows up here as extra jobs."""

from __future__ import annotations

import ast
import os
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql.types import StructType

from music_streaming_services_etl_pipeline_with_airflow_spark.snapshots import (
    SnapshotTable,
    local_frame,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "music_streaming_services_etl_pipeline_with_airflow_spark",
)

# every column type the snapshot layer and both index kernels build
# driver-side relations with, each with a non-null and a null value
TYPED_ROWS = {
    "long": [(1, 7), (2, None)],
    "int": [(1, 3), (2, None)],
    "string": [(1, "a"), (2, None)],
    "double": [(1, 0.25), (2, None)],
    "boolean": [(1, True), (2, None)],
    "array<double>": [(1, [1.0, -0.5]), (2, None), (3, [])],
}
# a value of the wrong type for each, which verifySchema rejects; a
# string field takes any value there (the JVM stringifies it), while
# local_frame refuses a non-str
WRONG = {
    "long": "7",
    "int": 1.5,
    "string": 7,
    "double": 1,
    "boolean": "yes",
    "array<double>": [1],
}
# a bucketed delete: the probe (distinct file names) and the partitioned
# write, each a shuffle map job plus a result job under adaptive execution
DELETE_JOB_BUDGET = 4
# the jobs a 1-id batch erase of a surviving copy starts on a tiny index
ERASE_JOB_BUDGET = {"minhash": 10, "semantic": 10}


@contextmanager
def jobs_started(spark):
    """Count the Spark jobs started inside the block via a job group."""
    sc = spark.sparkContext
    tag = f"job-economy-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, tag)
    box: list[int] = []
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        box.append(len(sc.statusTracker().getJobIdsForGroup(tag)))


def _schemas(typ: str):
    ddl = f"k long, x {typ}"
    return [ddl, StructType.fromDDL(ddl)]


@pytest.mark.parametrize("typ", sorted(TYPED_ROWS))
@pytest.mark.parametrize("as_struct", [False, True], ids=["ddl", "struct"])
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, typ, as_struct, empty):
    schema = _schemas(typ)[as_struct]
    rows = [] if empty else TYPED_ROWS[typ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("typ", sorted(TYPED_ROWS))
def test_local_frame_verifies_like_create_dataframe(spark, typ):
    ddl = f"k long, x {typ}"
    strict = StructType.fromDDL(ddl)
    strict.fields[1].nullable = False
    cases = [([(1, WRONG[typ])], ddl), ([(1, None)], strict)]
    if typ == "string":
        with pytest.raises(TypeError):
            local_frame(spark, *cases.pop(0))
    for rows, schema in cases:
        with pytest.raises(Exception) as want:
            spark.createDataFrame(rows, schema)
        with pytest.raises(Exception) as got:
            local_frame(spark, rows, schema)
        assert type(got.value) is type(want.value)
        assert got.value.getCondition() == want.value.getCondition()


def test_local_frames_and_typed_reads_start_no_jobs(spark, tmp_path):
    with jobs_started(spark) as n:
        for typ, rows in TYPED_ROWS.items():
            for schema in _schemas(typ):
                local_frame(spark, rows, schema)
                local_frame(spark, [], schema)
    assert n == [0]

    schema = "id long, v long"
    empty_t = SnapshotTable(str(tmp_path / "empty"))
    with jobs_started(spark) as n:
        empty_t.read_buckets(spark, [0, 1], schema, n_buckets=4)
    assert n == [0]

    t = SnapshotTable(str(tmp_path / "t"))
    delta = local_frame(spark, [(i, 10 * i) for i in range(8)], "id long, d long")
    t.merge_bucketed(
        spark, delta, on="id", update={"v": "d"}, insert_defaults={"v": "d"},
        n_buckets=4, schema=schema,
    )
    with jobs_started(spark) as n:
        t.read_buckets(spark, [0, 1, 2, 3], schema, n_buckets=4)
        t.read(spark)
    assert n == [0]
    assert sorted(
        tuple(r) for r in t.read_buckets(spark, [0, 1, 2, 3], schema).collect()
    ) == [(i, 10 * i) for i in range(8)]


def test_bucketed_delete_is_one_probe_and_one_write(spark, tmp_path):
    """Each touched dir still becomes exactly one new dir, or leaves its
    bucket when no row survives; untouched dirs carry over in place. The
    rewrite is one scan and one write, however many dirs it touches."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):  # four appended dirs in one bucket
        t.commit_buckets(
            spark.range(lo, lo + 10).withColumn("_bucket", F.lit(0)),
            [0], n_buckets=1, append=True,
        )
    a, b, c, d = t._bucket_map(t.latest_version())["0"]
    with jobs_started(spark) as n:
        t.delete_where(spark, "id IN (3, 4, 205) OR (id >= 100 AND id < 110)")
    assert n[0] <= DELETE_JOB_BUDGET, n
    new_a, new_c, kept_d = t._bucket_map(t.latest_version())["0"]
    assert kept_d == d
    assert os.path.dirname(new_a) == os.path.dirname(new_c)  # one write
    assert {new_a, new_c}.isdisjoint({a, b, c, d})
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == sorted(
        set(range(10)) - {3, 4}
        | set(range(200, 210)) - {205}
        | set(range(300, 310))
    )
    # one file per rewritten dir
    for nd in (new_a, new_c):
        assert len([f for f in os.listdir(nd) if f.endswith(".parquet")]) == 1


def _tiny_minhash(spark, tmp_path):
    from music_streaming_services_etl_pipeline_with_airflow_spark.streaming import ingest

    ts = tuple(
        SnapshotTable(str(tmp_path / "mh" / n))
        for n in ("pairs", "bands", "shingles", "groups", "members")
    )
    ingest.make_minhash_index_applier(*ts, n_buckets=4)(
        local_frame(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog alpha beta"),
                (2, "the quick brown fox jumps over the lazy dog alpha beta"),
                (3, "completely different words about snapshot table manifests"),
            ],
            ingest.DOCS_SCHEMA,
        ),
        0,
    )
    return ts, lambda ids: ingest.erase_docs_from_minhash_index(spark, *ts, 4, ids)


def _tiny_semantic(spark, tmp_path):
    from music_streaming_services_etl_pipeline_with_airflow_spark.streaming import ann

    ts = tuple(
        SnapshotTable(str(tmp_path / "sem" / n))
        for n in ("pairs", "bands", "vecs", "groups", "members")
    )
    ann.make_semantic_index_applier(*ts, 4, 4, 4, 4)(
        local_frame(
            spark,
            [
                (1, [1.0, 0.0] + [0.0] * 62),
                (2, [1.0, 0.0] + [0.0] * 62),
                (3, [0.0, 1.0] + [0.0] * 62),
            ],
            ann.EMB_STREAM_SCHEMA,
        ),
        0,
    )
    return ts, lambda ids: ann.erase_semantic_vecs(spark, ids, *ts, 4, 4, 4, 4)


@pytest.mark.parametrize("kernel", sorted(ERASE_JOB_BUDGET))
def test_one_id_batch_erase_job_budget(spark, tmp_path, kernel):
    build = _tiny_minhash if kernel == "minhash" else _tiny_semantic
    (_, _, _, _, members_t), erase = build(spark, tmp_path)
    with jobs_started(spark) as n:
        erase([2])  # doc 1 keeps the group alive
    assert n[0] <= ERASE_JOB_BUDGET[kernel], n
    ids = {r[0] for r in members_t.read(spark).collect()}
    assert ids == {1, 3}
    assert not members_t.latest_manifest_field("pending_group_sync")


def _create_dataframe_calls(tree: ast.AST) -> list[int]:
    allowed: set[ast.AST] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            allowed.update(ast.walk(node))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and node not in allowed
        and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame")
            or (isinstance(node.func, ast.Name) and node.func.id == "createDataFrame")
        )
    ]


@pytest.mark.parametrize(
    "rel", ["snapshots.py", "streaming/ingest.py", "streaming/ann.py"]
)
def test_driver_rows_go_through_local_frame(rel):
    with open(os.path.join(PKG, rel)) as fh:
        stray = _create_dataframe_calls(ast.parse(fh.read()))
    assert stray == [], (
        f"{rel}: createDataFrame at line(s) {stray}; build driver-side "
        "rows with snapshots.local_frame"
    )
