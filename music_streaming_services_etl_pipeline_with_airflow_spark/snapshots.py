"""Snapshot-versioned parquet tables — a minimal transactional table format
with time travel, in the spirit of the public Delta/Iceberg designs but
self-contained over raw parquet (no table-format dependency in this
container).

The reference's warehouse is append-only Redshift COPY
(dags/music_streaming_services_dag.py:317-353) with no version history; a
failed-then-retried load duplicates rows (SURVEY §8.6). This module gives
the engine the two properties that fix that class of bug:

- **Atomic commits.** Data files are written first, under a per-version
  directory; the commit is the manifest JSON, written via temp-file +
  ``os.replace`` (atomic on POSIX). A crash between data write and manifest
  write leaves an orphan data dir that NO reader ever sees — readers only
  resolve directories listed in a committed manifest.
- **Time travel.** Every manifest is immutable and kept; ``read(spark, v)``
  reconstructs any historical version. ``overwrite`` commits replace the
  visible file set; ``append`` commits extend the parent's.

Layout::

    <table>/_manifests/v000001.json   {"version":1,"parent":0,"dirs":[...]}
    <table>/data/v000001/part-*.parquet

Scale notes: the manifest holds *directory* paths, not per-file lists, so
manifest size is O(commits), not O(files); readers hand the dir list to
``spark.read.parquet(*dirs)`` — partition pruning and predicate pushdown
work unchanged because the files are ordinary parquet. Single-writer
semantics (the reference's Airflow DAG is single-writer per table too);
a concurrent-writer CAS on the manifest name is the documented seam, same
category as the Derby-only JDBC surface (README "Known seams").

KEYED-STATE BUCKETING (round 7): a table whose rows are keyed state (a
CDC target, a MERGE-maintained dim) can map each key to one of N hash
buckets and commit PER BUCKET — the manifest then carries a
``buckets: {id: [dirs]}`` map (``dirs`` stays the flattened union, so
``read``/``restore``/``expire``/``history`` work unchanged), and a write
that touches a subset of buckets rewrites ONLY those buckets' dirs,
carrying the rest over by reference — dir-granular copy-on-write, the
same trick ``delete_where`` plays with probe-pruned dirs. This is what
keeps a 100 TB keyed-state table writable from a change feed: per-batch
write cost is O(touched buckets' bytes), never O(|state|).

JOB ECONOMY: the index lifecycles built on this module run short,
overhead-bound steps, so two rules keep relations from starting Spark
jobs they do not need.

- Driver-built relations (typed empties, id lists, correction rows) go
  through :func:`local_frame`, never ``spark.createDataFrame(<list>)``
  directly, here and in ``streaming/ingest.py`` / ``streaming/ann.py``
  (a test scans the three files for strays). A list frame is a Python
  RDD: every use of it starts a job that spawns a Python worker, so one
  ``createDataFrame([], schema)`` in a join costs three jobs. The Arrow
  path lands the rows in the JVM as a local relation that costs none.
- Reads type their scan with the schema the manifest recorded for that
  version (:meth:`SnapshotTable._reader`), so no job reads parquet
  footers to infer it. Only ``mixed_schemas`` lineages (whose footers
  must be merged) and manifests without a ``schema`` field still infer.
  The recorded schema, not a caller's DDL, types the scan, so a read that
  is rewritten (compaction, delete) can never drop a column.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as an Arrow-backed local
    relation: the same rows, schema and ``verifySchema`` checks, but the
    rows reach the JVM as one Arrow stream instead of a Python RDD, so
    the frame starts no job when built and no Python-worker job when
    used. ``rows`` are positional tuples; ``schema`` is a DDL string or a
    ``StructType``. One check is stricter: a string field takes only
    ``str`` values (Arrow raises ``TypeError``), where ``createDataFrame``
    would stringify anything."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, _make_type_verifier

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    if not isinstance(struct, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    verify = _make_type_verifier(struct)
    internal = []
    for r in rows:
        verify(r)  # raises exactly as createDataFrame(verifySchema=True)
        internal.append(struct.toInternal(r))  # dates/timestamps -> ints
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=f.type)
            for i, f in enumerate(arrow)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version first (lost the CAS);
    re-read the table and retry the commit on top of its new latest."""


# Every key the format itself writes. commit_buckets(extra=...) may not
# shadow any of these, and everything OUTSIDE this set is caller metadata
# (e.g. a streaming sink's last_batch_id replay cursor) that delete_where
# and restore carry forward — a metadata-only lineage step must not
# silently drop the cursor that makes micro-batch replays idempotent.
RESERVED_MANIFEST_KEYS = frozenset(
    {
        "version",
        "parent",
        "mode",
        "dirs",
        "buckets",
        "n_buckets",
        "schema",
        "mixed_schemas",
        "restored_from",
        "zonemaps",
        "blooms",
    }
)


def _extra_fields(manifest: dict) -> dict:
    return {k: v for k, v in manifest.items() if k not in RESERVED_MANIFEST_KEYS}


def _check_extra_keys(extra: dict | None) -> None:
    """Fail FAST on reserved-key shadowing — called at the TOP of every
    write path (commit/commit_buckets/delete_where), BEFORE any data dir
    is written: a late check would reject the manifest only after the
    data write already landed, leaving an orphan dir on every retry of
    the same bad call (the same pre-write placement as commit_buckets'
    schema-stability guard)."""
    clash = RESERVED_MANIFEST_KEYS & (extra or {}).keys()
    if clash:
        raise ValueError(f"extra manifest fields shadow reserved keys: {clash}")


# Well-known default ports per filesystem scheme: an authority that spells
# the default port explicitly (hdfs://nn:8020/x) names the SAME filesystem
# as one that omits it (hdfs://nn/x) — representation, not identity.
_DEFAULT_PORTS = {
    "hdfs": 8020,
    "viewfs": 8020,
    "webhdfs": 9870,
    "http": 80,
    "https": 443,
    "ftp": 21,
}


def _norm_authority(netloc: str, scheme: str = "") -> str:
    """Hostname case and an explicit-vs-implicit default port are benign
    URI-representation differences (r13, ADVICE): fold both so the
    delete probe's dir attribution doesn't abort on a deployment where
    Spark reports ``hdfs://NN:8020/...`` for a manifest dir written as
    ``hdfs://nn/...``."""
    netloc = netloc.lower()
    host, sep, port = netloc.rpartition(":")
    if sep and port.isdigit() and _DEFAULT_PORTS.get(scheme.lower()) == int(port):
        return host
    return netloc


def _norm_local(p: str) -> str:
    """realpath, not abspath: Spark resolves symlinked working dirs
    (macOS /tmp -> /private/tmp is the classic) when stamping
    input_file_name(), so both sides of the attribution must resolve
    them the same way or every delete aborts with the divergence
    guard."""
    return os.path.realpath(os.path.abspath(p))


def _norm_dir(d: str) -> tuple[str, str]:
    """One normal form for both sides of delete_where's dir attribution:
    (authority, path) — scheme-qualified dirs (hdfs://nn/x, s3a://b/x)
    keep their normalized authority (case-folded, default port
    stripped); ``file://`` and bare local paths resolve symlinks and
    the cwd exactly once here."""
    from urllib.parse import unquote, urlparse

    if "://" in d:
        u = urlparse(d)
        if u.scheme.lower() == "file":
            return ("", _norm_local(unquote(u.path)))
        return (
            _norm_authority(u.netloc, u.scheme),
            unquote(u.path).rstrip("/"),
        )
    return ("", _norm_local(d))


def _attribute_hit_dirs(
    hit_files: list[str], dirs: list[str], label: str
) -> set[str]:
    """Map the probe's matching-file URIs (``input_file_name()`` output)
    back to their manifest dirs. A hit that maps to NO manifest dir means
    the two path representations diverged (e.g. the driver chdir'd after
    the session started, so ``abspath`` and Spark's working-dir
    resolution disagree) — failing loudly beats silently classifying
    every dir untouched and committing a no-op "delete"."""
    from urllib.parse import unquote, urlparse

    hit_dirs = set()
    for f in hit_files:
        u = urlparse(f)
        pdir = os.path.dirname(unquote(u.path))
        if u.scheme.lower() in ("", "file"):
            hit_dirs.add(("", _norm_local(pdir)))
        else:
            hit_dirs.add((_norm_authority(u.netloc, u.scheme), pdir))
    by_norm = {_norm_dir(d): d for d in dirs}
    if len(by_norm) != len(dirs):
        # two manifest spellings normalizing to one (authority, path)
        # would make dict-build last-wins: a hit in the dropped spelling
        # attributes to the kept one, delete_where rewrites the WRONG dir
        # and leaves matching rows behind — a silent under-delete. A
        # manifest never legally lists one dir twice, so fail loudly
        # (r14, ADVICE).
        seen: dict[tuple, str] = {}
        for d in dirs:
            n = _norm_dir(d)
            if n in seen and seen[n] != d:
                raise ValueError(
                    f"{label}: manifest dirs {seen[n]!r} and {d!r} "
                    "normalize to the same location — duplicate spellings "
                    "of one dir would mis-attribute delete hits; repair "
                    "the manifest before deleting"
                )
            seen[n] = d
    orphans = hit_dirs - set(by_norm)
    if orphans:
        raise ValueError(
            f"{label}: delete probe matched rows in {sorted(orphans)[:3]} "
            "which map to no manifest dir — path representations "
            "diverged; refusing a delete that could silently miss matches"
        )
    return {by_norm[h] for h in hit_dirs}


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self._mdir = f"{self.path}/_manifests"
        os.makedirs(self._mdir, exist_ok=True)

    # -- manifest bookkeeping ------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for f in os.listdir(self._mdir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def _manifest(self, version: int) -> dict:
        with open(f"{self._mdir}/v{version:06d}.json") as fh:
            return json.load(fh)

    def latest_manifest_field(self, key: str, default=None):
        """Read one metadata field off the CURRENT manifest (``default`` if
        the table has no commits or the field is absent). The read half of
        ``commit_buckets(extra=...)`` — e.g. a streaming sink checks the
        stored ``last_batch_id`` here to make at-least-once micro-batch
        replays idempotent."""
        v = self.latest_version()
        if v == 0:
            return default
        return self._manifest(v).get(key, default)

    @staticmethod
    def _reader(spark: SparkSession, m: dict, merge_mixed: bool = True):
        """The reader for ``m``'s dirs, typed by the schema ``m`` recorded
        so the scan starts no footer-inference job. A ``mixed_schemas``
        lineage merges footers instead (``merge_mixed``), or reads under
        its recorded union schema when a rewrite needs the added columns
        as NULL; a manifest without a schema falls back to inference."""
        if merge_mixed and m.get("mixed_schemas"):
            return spark.read.option("mergeSchema", True)
        if m.get("schema"):
            return spark.read.schema(StructType.fromJson(m["schema"]))
        return spark.read

    def _write_manifest(self, manifest: dict) -> None:
        """Atomic COMPARE-AND-SWAP publish: the manifest is linked into
        place with an EXCLUSIVE create (``os.link`` fails with EEXIST if
        the version was already committed), so two writers racing to the
        same version cannot silently overwrite each other — exactly one
        wins, the loser gets :class:`ConcurrentWriteError` and must
        re-read the table (its new latest_version) and retry its commit
        on top. This is the Delta/Iceberg optimistic-concurrency protocol
        over a filesystem's atomic exclusive create; on an object store
        the same call maps to a conditional put (If-None-Match)."""
        final = f"{self._mdir}/v{manifest['version']:06d}.json"
        fd, tmp = tempfile.mkstemp(dir=self._mdir, suffix=".tmp")
        try:
            # dump inside the try so a failed write (ENOSPC, serialization
            # error) cannot leak the .tmp file into _manifests/
            with os.fdopen(fd, "w") as fh:
                json.dump(manifest, fh)
            os.link(tmp, final)  # atomic exclusive create — the CAS
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{self.path}: version {manifest['version']} was committed "
                "by another writer — re-read the table and retry the "
                "commit on top of the new latest version"
            ) from None
        finally:
            os.unlink(tmp)

    # -- write path ----------------------------------------------------------

    def _fresh_data_dir(self, version: int) -> str:
        """Collision-proof data dir for a version: a crashed previous
        attempt leaves an orphan dir with no manifest, and the retry must
        not collide with it (data writes use mode="error" so every dir is
        written exactly once) — probe for a free sibling; orphans stay
        dark forever because only manifest-listed dirs are ever read."""
        data_dir = f"{self.path}/data/v{version:06d}"
        attempt = 0
        while os.path.exists(data_dir):
            attempt += 1
            data_dir = f"{self.path}/data/v{version:06d}-r{attempt}"
        return data_dir

    @staticmethod
    def _zm_value(v):
        """JSON-safe zone-map bound: native for primitives, ISO-ish str()
        otherwise (dates/timestamps compare correctly lexicographically)."""
        return v if isinstance(v, (int, float, str, bool)) else str(v)

    @staticmethod
    def _carry_zonemaps(pm: dict, dirs: list[str]) -> dict:
        """Zone-map entries that survive into a child manifest: data dirs
        are IMMUTABLE once written (every write path uses mode="error" on
        a fresh dir), so a parent's per-dir min/max stays valid for every
        dir the child still references; entries for dropped dirs are
        discarded, rewritten dirs simply have no entry (read_pruned scans
        them conservatively)."""
        zm = pm.get("zonemaps") or {}
        live = set(dirs)
        return {d: m for d, m in zm.items() if d in live}

    @staticmethod
    def _carry_blooms(pm: dict, dirs: list[str]) -> dict:
        """Bloom entries that survive into a child manifest — identical
        immutability argument to :meth:`_carry_zonemaps`."""
        bl = pm.get("blooms") or {}
        live = set(dirs)
        return {d: m for d, m in bl.items() if d in live}

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ):
        """DATA-SKIPPING read: scan only the data dirs whose recorded
        [min, max] zone map for ``col`` intersects [lo, hi] — the
        Delta/Iceberg file-skipping play at dir granularity, O(manifest)
        driver work, no data touched for skipped dirs. Dirs with no
        recorded stats are scanned conservatively. Returns
        ``(df, n_scanned, n_total)``; the caller still applies the actual
        predicate (zone maps are conservative, not exact).

        ``lo``/``hi`` are normalized through :meth:`_zm_value` so they
        compare in the same domain as the STORED bounds: primitives pass
        through, dates/timestamps become their ``str()`` rendering (ISO
        'YYYY-MM-DD' / 'YYYY-MM-DD HH:MM:SS'), which orders correctly
        lexicographically — a caller may pass a ``datetime.date`` object
        or its ISO string interchangeably; a non-ISO string format would
        mis-prune and must not be used."""
        v = self.latest_version() if version is None else version
        lo, hi = self._zm_value(lo), self._zm_value(hi)
        if v == 0:
            raise ValueError(f"{self.path}: no committed versions")
        m = self._manifest(v)
        zm = m.get("zonemaps") or {}
        keep = []
        for d in m["dirs"]:
            ent = zm.get(d, {}).get(col)
            if ent is None or not (ent[1] < lo or ent[0] > hi):
                keep.append(d)
        if not keep:
            if not m.get("schema"):
                raise ValueError(
                    f"{self.path} v{v}: fully pruned read with no recorded "
                    "schema to type the empty relation"
                )
            empty = local_frame(spark, [], StructType.fromJson(m["schema"]))
            return empty, 0, len(m["dirs"])
        return self._reader(spark, m).parquet(*keep), len(keep), len(m["dirs"])

    def read_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ):
        """POINT-LOOKUP data skipping via the per-dir bloom index (the
        complement to :meth:`read_pruned`'s zone maps, which only help
        when values correlate with write order — a scattered
        high-cardinality key intersects every dir's [min, max] but its
        bloom membership is still selective). Scans only the dirs whose
        recorded bloom for ``col`` COULD contain ``value``; dirs without
        a bloom entry are scanned conservatively. False positives open a
        dir needlessly but never change results — the caller still
        applies the equality predicate. Returns ``(df, n_scanned,
        n_total)``.

        The probe hashes ``value`` through a 1-row Spark job with the
        exact seeded-xxhash64 scheme the index was built with, CAST to
        the table's recorded type for ``col`` — xxhash64 is
        type-sensitive (a Python int literal defaults to INT while the
        column is LONG, which would silently hash to different bits: a
        false NEGATIVE, the one failure mode a bloom index must never
        have). For the same reason, a dir whose bloom entry records a
        DIFFERENT hashed type than the table's current type for ``col``
        (additive schema evolution that retyped the column) is scanned
        conservatively — its bits were set under the old type, so
        probing them with the new-typed literal could false-negative.

        When the manifest also carries a ZONE MAP for ``col`` the two
        indexes compose: a dir is opened only if its [min, max] contains
        the value AND its bloom could contain it — each index can skip a
        dir the other keeps (zone maps win on write-order-correlated
        keys, blooms on scattered high-cardinality keys)."""
        from .functions.bloom import DEFAULT_SEEDS, _positions

        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"{self.path}: no committed versions")
        m = self._manifest(v)
        bl = m.get("blooms") or {}
        zm = m.get("zonemaps") or {}
        vnorm = self._zm_value(value)

        from pyspark.sql import functions as F

        lit = F.lit(value)
        probe_type: str | None = None
        if m.get("schema"):
            for f in StructType.fromJson(m["schema"]).fields:
                if f.name == col:
                    lit = lit.cast(f.dataType)
                    probe_type = f.dataType.json()
                    break
        probe_cache: dict[int, list[int]] = {}

        def probe_positions(num_bits: int) -> list[int]:
            if num_bits not in probe_cache:
                row = spark.range(1).select(
                    *_positions(lit, num_bits, DEFAULT_SEEDS)
                ).first()
                probe_cache[num_bits] = list(row)
            return probe_cache[num_bits]

        keep = []
        for d in m["dirs"]:
            zent = zm.get(d, {}).get(col)
            try:
                if zent is not None and (vnorm < zent[0] or vnorm > zent[1]):
                    continue  # zone map proves the value is out of this dir
            except TypeError:
                pass  # incomparable domains (evolved type): conservative
            ent = bl.get(d, {}).get(col)
            if ent is None:
                keep.append(d)  # no bloom: conservative
                continue
            ent_type = ent.get("type")
            if ent_type is not None and probe_type is not None and ent_type != probe_type:
                keep.append(d)  # hashed under an evolved type: conservative
                continue
            bits = set(ent["bits"])
            if all(p in bits for p in probe_positions(ent["num_bits"])):
                keep.append(d)
        if not keep:
            if not m.get("schema"):
                raise ValueError(
                    f"{self.path} v{v}: fully pruned read with no recorded "
                    "schema to type the empty relation"
                )
            empty = local_frame(spark, [], StructType.fromJson(m["schema"]))
            return empty, 0, len(m["dirs"])
        return self._reader(spark, m).parquet(*keep), len(keep), len(m["dirs"])

    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 1 << 14,
        extra: dict | None = None,
    ) -> int:
        """Write df as the next version. ``overwrite`` replaces the visible
        file set; ``append`` extends the parent's. Returns the new version.
        The data write happens BEFORE the manifest publish — a failure in
        between leaves an invisible orphan, never a torn table.

        SCHEMA EVOLUTION (additive): every manifest records its commit's
        schema; an append whose schema differs from the parent's marks the
        version ``mixed_schemas`` and readers merge parquet footers
        (missing columns surface as NULL — Delta/Iceberg ADD COLUMN
        semantics). Time-traveling to a pre-evolution version reads the
        old schema untouched. An overwrite resets the flag: the visible
        file set is single-schema again.

        ``extra`` merges caller metadata into the manifest exactly as
        :meth:`commit_buckets` does (e.g. a streaming sink's replay
        cursor, or additive corpus counters an incremental index
        maintains); an append carries the parent's extra fields forward
        and the new values override — reserved keys cannot be
        shadowed."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        _check_extra_keys(extra)
        parent = self.latest_version()
        if parent > 0 and "buckets" in self._manifest(parent):
            # fail FAST, like compact(): a plain commit would publish a
            # bucket-less manifest and strand the bucketed lineage — the
            # next read_buckets/merge_bucketed would then fail mid-stream
            # after the table was already mutated
            raise ValueError(
                f"{self.path}: parent version is bucketed — use "
                "commit_buckets()/merge_bucketed() so the bucket map "
                "survives (a plain commit would strand it)"
            )
        version = parent + 1
        data_dir = self._fresh_data_dir(version)
        df.write.mode("error").parquet(data_dir)
        dirs = [data_dir]
        mixed = False
        zonemaps: dict = {}
        blooms: dict = {}
        if mode == "append" and parent > 0:
            pm = self._manifest(parent)
            dirs = pm["dirs"] + dirs
            mixed = pm.get("mixed_schemas", False) or (
                "schema" in pm and pm["schema"] != df.schema.jsonValue()
            )
            zonemaps = self._carry_zonemaps(pm, dirs)
            blooms = self._carry_blooms(pm, dirs)
        if stats_cols:
            from pyspark.sql import functions as F

            # stats describe the WRITTEN dir, so compute from a read-back
            # of it (parquet footer min/max make this metadata-cheap), not
            # from `df`, whose re-evaluation is not guaranteed to produce
            # the same rows twice
            spark = df.sparkSession
            row = spark.read.parquet(data_dir).agg(
                *[F.min(c).alias(f"_lo_{c}") for c in stats_cols],
                *[F.max(c).alias(f"_hi_{c}") for c in stats_cols],
            ).first()
            zonemaps[data_dir] = {
                c: [
                    self._zm_value(row[f"_lo_{c}"]),
                    self._zm_value(row[f"_hi_{c}"]),
                ]
                for c in stats_cols
                if row[f"_lo_{c}"] is not None
            }
        if bloom_cols:
            # BLOOM FILTER INDEX (dir granularity): for each indexed
            # column, the distinct bit positions its values set — the
            # point-lookup complement to zone maps (which only help when
            # values correlate with write order). Stored as a bounded
            # sorted int list in the manifest: <= bloom_bits positions,
            # O(set bits) not O(rows). Computed from the read-back of the
            # written dir (same reasoning as stats_cols), with the same
            # seeded-xxhash64 scheme functions/bloom.py uses, so probes
            # hash in Spark's own type semantics.
            from pyspark.sql import functions as F

            from .functions.bloom import bloom_bit_positions

            spark = df.sparkSession
            written = spark.read.parquet(data_dir)
            # each entry records the column type it was HASHED under:
            # xxhash64 is type-sensitive, so a lineage whose column type
            # evolves across appends must not probe an old dir's bits
            # with a differently-typed literal (silent false negative —
            # read_point treats a type-mismatched entry as absent and
            # scans that dir conservatively instead)
            wtypes = {f.name: f.dataType.json() for f in written.schema.fields}
            blooms[data_dir] = {
                c: {
                    "bits": bloom_bit_positions(
                        written.select(c).where(F.col(c).isNotNull()),
                        c,
                        num_bits=bloom_bits,
                    ),
                    "num_bits": bloom_bits,
                    "type": wtypes[c],
                }
                for c in bloom_cols
            }
        manifest = dict(
            _extra_fields(self._manifest(parent))
            if mode == "append" and parent > 0
            else {}
        )
        manifest.update(extra or {})
        manifest.update(
            {
                "version": version,
                "parent": parent,
                "mode": mode,
                "dirs": dirs,
                "schema": df.schema.jsonValue(),
                "mixed_schemas": mixed,
            }
        )
        if zonemaps:
            manifest["zonemaps"] = zonemaps
        if blooms:
            manifest["blooms"] = blooms
        self._write_manifest(manifest)
        return version

    def merge(
        self,
        spark: SparkSession,
        delta: DataFrame,
        on: str,
        update: dict[str, str],
        insert_defaults: dict[str, str],
    ) -> int:
        """MERGE INTO current snapshot: WHEN MATCHED update columns per the
        ``update`` expr map, WHEN NOT MATCHED insert with ``insert_defaults``
        filling target-only columns. Committed as a new overwrite version —
        the pre-merge version stays readable (time travel).

        Precondition (enforced): delta keys are UNIQUE and NON-NULL — a
        duplicate delta key would fan out its matched target row through
        the full-outer join (ANSI MERGE raises on multi-match too), and a
        NULL key can never match. Matched/inserted branches are decided by
        JOIN-SIDE PRESENCE markers, not key nullability, so a NULL-keyed
        *target* row rides through unchanged instead of being misread as
        an insert."""
        from pyspark.sql import functions as F

        base = self.read(spark)
        self._check_delta_keys(delta, on)
        merged = self._merge_frames(base, delta, on, update, insert_defaults)
        return self.commit(merged, mode="overwrite")

    @staticmethod
    def _check_delta_keys(delta: DataFrame, on: str, *aggs):
        """One aggregate over ``delta``: its row count against its distinct
        non-null keys, plus any caller ``aggs`` riding the same job.
        Returns the result row."""
        from pyspark.sql import functions as F

        chk = delta.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(on)).alias("k"),
            *aggs,
        ).first()
        if chk["n"] != chk["k"]:
            raise ValueError(
                f"merge delta must carry unique non-null {on!r} keys: "
                f"{chk['n']} rows but {chk['k']} distinct non-null keys "
                "(pre-compact the delta, e.g. latest-change-per-key)"
            )
        return chk

    @staticmethod
    def _merge_frames(
        base: DataFrame,
        delta: DataFrame,
        on: str,
        update: dict[str, str],
        insert_defaults: dict[str, str],
    ) -> DataFrame:
        from pyspark.sql import functions as F

        tgt = base.withColumn("__t", F.lit(1))
        d = delta.withColumnRenamed(on, "__mk").withColumn("__d", F.lit(1))
        joined = tgt.join(d, tgt[on] == d["__mk"], "full_outer")
        matched = F.col("__t").isNotNull() & F.col("__d").isNotNull()
        inserted = F.col("__t").isNull()
        cols = []
        for c in base.columns:
            expr = F.col(c)
            if c in update:
                expr = F.when(matched, F.expr(update[c])).otherwise(expr)
            if c == on:
                expr = F.coalesce(F.col(on), F.col("__mk"))
            elif c in insert_defaults:
                expr = F.when(inserted, F.expr(insert_defaults[c])).otherwise(expr)
            cols.append(expr.alias(c))
        return joined.select(*cols)

    def merge_bucketed(
        self,
        spark: SparkSession,
        delta: DataFrame,
        on: str,
        update: dict[str, str],
        insert_defaults: dict[str, str],
        n_buckets: int,
        schema: str,
        extra: dict | None = None,
    ) -> int:
        """MERGE with bucket-granular copy-on-write — the same WHEN
        MATCHED/NOT MATCHED semantics as :meth:`merge`, against a table
        whose every version is written by :meth:`commit_buckets`: only the
        buckets the delta's keys land in are read, merged, and rewritten;
        every other bucket carries over by manifest reference. Read AND
        write cost per merge are O(touched buckets' bytes), never
        O(|table|) — the MERGE that stays usable when the dim table is
        itself 100 TB. ``schema`` types the empty-table first merge
        (everything inserts). ``extra`` rides into the committed manifest
        (see :meth:`commit_buckets`)."""
        from pyspark.sql import functions as F

        self._check_n_buckets(n_buckets)  # fail before any compute
        bucket = self.bucket_of(F.col(on), n_buckets)
        # the key check and the touched-bucket set share one job
        touched = sorted(
            self._check_delta_keys(
                delta, on, F.collect_set(bucket).alias("_b")
            )["_b"]
        )
        if not touched:
            return self.latest_version()
        base = self.read_buckets(spark, touched, schema, n_buckets=n_buckets)
        merged = self._merge_frames(base, delta, on, update, insert_defaults)
        return self.commit_buckets(
            merged.withColumn("_bucket", bucket),
            touched,
            n_buckets=n_buckets,
            extra=extra,
        )

    # -- keyed-state bucketing ----------------------------------------------

    @staticmethod
    def bucket_of(key_col, n_buckets: int):
        """The ONE bucket function both writers and readers must share:
        pmod(xxhash64(key), n) — deterministic, seed-free, stable across
        sessions. Returns an int column."""
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")

    @staticmethod
    def bucket_ids(spark: SparkSession, values, schema: str, bucket) -> list[int]:
        """Sorted distinct bucket ids of driver-side key ``values`` (one
        column, typed by ``schema`` such as ``"doc_id long"``) under the
        ``bucket`` expression from :meth:`bucket_of`. The projection over
        a local relation is folded on the driver, so no job starts — a
        ``distinct()`` would add a shuffle job for nothing."""
        frame = local_frame(spark, [(v,) for v in values], schema)
        return sorted({r[0] for r in frame.select(bucket).collect()})

    def _bucket_map(self, version: int) -> dict[str, list[str]]:
        m = self._manifest(version)
        if "buckets" not in m:
            raise ValueError(
                f"{self.path} v{version}: not a bucketed commit — "
                "commit_buckets() must write every version of a bucketed table"
            )
        return m["buckets"]

    def _check_n_buckets(self, n_buckets: int | None) -> None:
        """Guard the ONE invariant that makes bucket pruning sound: every
        reader and writer of a bucketed table must hash keys with the SAME
        bucket count the table was built with. The count is recorded in the
        manifest on the first bucketed commit; a caller who later passes a
        different ``n_buckets`` would compute touched buckets under a
        different hash-mod — reading the wrong buckets and silently
        inserting a key into a new bucket while its stale twin rides over
        by reference in the old one. Fail loudly instead."""
        v = self.latest_version()
        if v == 0 or n_buckets is None:
            return
        stored = self._manifest(v).get("n_buckets")
        if stored is not None and stored != n_buckets:
            raise ValueError(
                f"{self.path}: table was bucketed with n_buckets={stored} "
                f"but caller passed n_buckets={n_buckets} — bucket ids "
                "would be computed under a different hash-mod, producing "
                "silent duplicate keys; use the stored count"
            )

    def read_buckets(
        self,
        spark: SparkSession,
        bucket_ids: list[int],
        schema: str,
        n_buckets: int | None = None,
    ) -> DataFrame:
        """Read ONLY the given buckets' dirs from the current version — the
        read half of bucket pruning: a change batch that touches 3 of 4096
        buckets joins against 3 buckets' state, not the table. ``schema``
        makes the empty case (no committed version yet, or all requested
        buckets empty) a typed empty relation instead of an error. Pass
        ``n_buckets`` (the count used to compute ``bucket_ids``) to have it
        validated against the table's recorded bucket count."""
        v = self.latest_version()
        if v == 0:
            return local_frame(spark, [], schema)
        self._check_n_buckets(n_buckets)
        bm = self._bucket_map(v)
        dirs = [d for b in bucket_ids for d in bm.get(str(b), [])]
        if not dirs:
            return local_frame(spark, [], schema)
        return self._reader(spark, self._manifest(v)).parquet(*dirs)

    def commit_buckets(
        self,
        df: DataFrame,
        touched: list[int],
        bucket_col: str = "_bucket",
        n_buckets: int | None = None,
        extra: dict | None = None,
        append: bool = False,
        replace_all_buckets: bool = False,
    ) -> int:
        """Commit ``df`` as the FULL new content of the ``touched`` buckets
        (``df`` carries ``bucket_col``, computed with :meth:`bucket_of`);
        every other bucket carries over from the parent BY REFERENCE. One
        partitioned write job; write bytes are O(touched buckets), never
        O(|state|). A touched bucket with zero surviving rows becomes an
        empty bucket (its manifest entry is an empty dir list — Spark's
        partitionBy emits no dir for an absent key).

        ``append=True`` switches to bucket-granular APPEND: the touched
        buckets' EXISTING dirs stay in place and this commit's new dirs
        EXTEND their manifest lists (a bucket's entry is a dir LIST for
        exactly this reason) — write bytes are O(df), never O(bucket),
        while the lineage stays bucket-prunable on read. This is the
        postings/LSM shape for keyed state that only ever GROWS (an LSH
        band index, an inverted index's postings): a replacement merge
        would rewrite ever-growing buckets per batch. Appends are
        schema-stable against ALL non-empty buckets (old and new dirs
        coexist inside one bucket); compaction, when dir counts grow, is
        a later full-bucket ``commit_buckets`` with the union.

        ``n_buckets`` is recorded in the manifest on the first bucketed
        commit and validated on every later one (see
        :meth:`_check_n_buckets`). ``extra`` merges caller metadata into
        the manifest (e.g. a streaming sink's last-applied batch id for
        replay idempotency); reserved manifest keys cannot be shadowed.

        SCHEMA-STABLE BY CONTRACT: a bucketed lineage's data schema may
        not drift across commits while any untouched bucket still carries
        old dirs — read_buckets/merge_bucketed/the CDF fast path all read
        bucket dirs under one schema, so a partial-touch evolution would
        mix footers and silently NULL or drop columns depending on which
        dir Spark infers from. A commit whose schema differs from the
        parent's is accepted ONLY when it replaces every non-empty bucket
        (a full rewrite — the lineage's visible file set is single-schema
        again, Delta's overwriteSchema shape); otherwise it fails fast,
        BEFORE any data is written.

        ``replace_all_buckets=True`` starts from an EMPTY bucket map:
        nothing carries over by reference, ``df`` + ``touched`` define
        the table's entire new content. This is the one case where the
        bucket COUNT may legally change (the ``_check_n_buckets``
        invariant protects carried-over buckets from a hash-mod drift;
        with no carry-over there is nothing to protect) — the rebucketing
        primitive an IVF re-quantization migration or a
        bucket-count-doubling resize commits through. Caller metadata and
        the parent's extras still carry forward as on any commit."""
        _check_extra_keys(extra)
        parent = self.latest_version()
        # resolve the parent's bucket map BEFORE writing any data: a
        # wrong-lineage call (non-bucketed parent) must fail fast like
        # commit() does, not leave an orphan data dir on every retry
        buckets: dict[str, list[str]] = (
            dict(self._bucket_map(parent))
            if parent > 0 and not replace_all_buckets
            else {}
        )
        if parent > 0 and replace_all_buckets:
            self._bucket_map(parent)  # still fail fast on a wrong lineage
        if not replace_all_buckets:
            self._check_n_buckets(n_buckets)
        new_schema = df.drop(bucket_col).schema.jsonValue()

        def shape(js: dict) -> frozenset:
            # schema identity for the stability check: column NAME + TYPE.
            # Nullability and field order drift freely across unions /
            # parquet read-backs and don't affect how a dir is read (the
            # scan resolves columns by name), so they must not trip it.
            import json as _json

            return frozenset(
                (f["name"], _json.dumps(f["type"], sort_keys=True))
                for f in js.get("fields", [])
            )

        if parent > 0:
            psch = self._manifest(parent).get("schema")
            carried = [
                b
                for b, ds in buckets.items()
                # append keeps even the touched buckets' old dirs, so a
                # schema change has no bucket it could cleanly replace
                if ds and (append or b not in {str(x) for x in touched})
            ]
            if (
                psch is not None
                and shape(psch) != shape(new_schema)
                and carried
            ):
                raise ValueError(
                    f"{self.path}: bucketed commit changes the data schema "
                    f"while bucket(s) {sorted(carried)[:8]} still carry "
                    "old-schema dirs by reference — bucketed lineages are "
                    "schema-stable (every reader types all buckets with "
                    "ONE schema). Evolve by rewriting every non-empty "
                    "bucket in one commit, or add the column to the state "
                    "via merge_bucketed over all buckets"
                )
        stored_n = (
            self._manifest(parent).get("n_buckets") if parent > 0 else None
        )
        version = parent + 1
        data_dir = self._fresh_data_dir(version)
        # bucket-aligned repartition: without it every upstream partition
        # spills a file into every touched bucket dir (partitions x buckets
        # small files per commit); with it each bucket lands ~1 file and
        # the write is one hash shuffle on the bucket id
        df = df.repartition(max(len(touched), 1), bucket_col)
        df.write.mode("error").partitionBy(bucket_col).parquet(data_dir)
        # fail fast if df carries a bucket the caller did NOT declare
        # touched: its dir was just written but would never enter the
        # manifest — silent row loss on read. One listdir, no data scan.
        written = {
            e.split("=", 1)[1]
            for e in os.listdir(data_dir)
            if e.startswith(f"{bucket_col}=")
        }
        undeclared = written - {str(b) for b in touched}
        if undeclared:
            raise ValueError(
                f"{self.path}: commit_buckets received rows for bucket(s) "
                f"{sorted(undeclared)} not in touched={sorted(touched)} — "
                "their dirs would be orphaned and the rows silently lost"
            )
        for b in touched:
            d = f"{data_dir}/{bucket_col}={b}"
            new_dirs = [d] if os.path.isdir(d) else []
            if append:
                buckets[str(b)] = buckets.get(str(b), []) + new_dirs
            else:
                buckets[str(b)] = new_dirs
        dirs = sorted(d for ds in buckets.values() for d in ds)
        # new extras override the parent's carried-over metadata (a fresh
        # last_batch_id replaces the previous cursor); format keys win last
        manifest = dict(
            _extra_fields(self._manifest(parent)) if parent > 0 else {}
        )
        manifest.update(extra or {})
        manifest.update(
            {
                "version": version,
                "parent": parent,
                "mode": "bucketed",
                "dirs": dirs,
                "buckets": buckets,
                "n_buckets": n_buckets if n_buckets is not None else stored_n,
                # the data schema (bucket col excluded — it lives in the dir
                # name, and leaf-dir reads never partition-discover it).
                # This is what keeps a FULLY-emptied table readable: with
                # every bucket recorded as [] there is no parquet footer
                # left to infer from, so read() rebuilds the typed empty
                # relation from this record instead
                "schema": new_schema,
            }
        )
        self._write_manifest(manifest)
        return version

    def compact_appended(
        self,
        spark: SparkSession,
        schema: str,
        key_col: str,
        n_buckets: int,
        max_dirs: int = 16,
        extra: dict | None = None,
        bucket_expr=None,
    ) -> int | None:
        """LSM-style compaction for append-mode bucketed lineages: fold
        every bucket whose manifest dir list exceeds ``max_dirs`` back to
        one dir (a replacement commit of its own content), leaving calm
        buckets untouched by reference. Without this, a lineage fed by
        ``commit_buckets(append=True)`` accumulates one dir per touching
        batch forever — manifest size and per-read file counts grow
        O(batches). Content-neutral and atomic (a crash leaves the
        pre-compaction version current), so appliers can call it
        opportunistically after their appends; cost is O(crowded
        buckets' bytes), never O(|table|). ``key_col`` is the column the
        lineage buckets on (the table format does not record it);
        ``bucket_expr`` overrides the default hash ``bucket_of(key_col)``
        for lineages bucketed by a non-hash rule (e.g. an IVF index's
        identity list-id buckets).
        Returns the new version, or None when nothing is crowded."""
        v = self.latest_version()
        if v == 0:
            return None
        bm = self._bucket_map(v)
        crowded = sorted(int(b) for b, ds in bm.items() if len(ds) > max_dirs)
        if not crowded:
            return None
        from pyspark.sql import functions as F

        base = self.read_buckets(spark, crowded, schema, n_buckets=n_buckets)
        if bucket_expr is None:
            bucket_expr = self.bucket_of(F.col(key_col), n_buckets)
        return self.commit_buckets(
            base.withColumn("_bucket", bucket_expr),
            crowded,
            n_buckets=n_buckets,
            extra=extra,
        )

    def _check_bucket_scheme(self, key_col: str, caller: str) -> None:
        """Fail loudly when the DEFAULT hash bucket rule would be applied
        to a lineage whose manifest records a different ``bucket_scheme``
        (r15, VERDICT r14 ask 3 / ADVICE): an identity-bucketed table
        (e.g. the streaming IVF index, bucket == list id) audited or —
        worse — migrated under ``bucket_of(key_col)`` reports a
        fictitious distribution and would silently re-hash the layout
        out from under ``read_buckets`` callers, whose bucket ids would
        then prune to the WRONG dirs (missing rows, no error). Creation
        sites record the scheme as an ordinary manifest extra
        (``bucket_scheme="identity:<col>"``); an absent field means the
        default hash rule (every hash-bucketed lineage predates the
        field)."""
        scheme = self.latest_manifest_field("bucket_scheme")
        if scheme and scheme != f"hash:{key_col}":
            raise ValueError(
                f"{self.path}: manifest records bucket_scheme={scheme!r} "
                f"— {caller} with the default hash bucket_of({key_col!r}) "
                "would audit/migrate under the wrong binning and break "
                "identity-bucket readers; pass a matching bucket_expr "
                "(or bucket_expr_of) override"
            )

    def bucket_occupancy(
        self, spark: SparkSession, key_col: str, bucket_expr=None
    ) -> dict:
        """Rows-per-bucket audit — the TRIGGER METRIC for :meth:`rebucket`
        (r14, VERDICT r13 ask 2): bucketed index tables fix their bucket
        count at creation from an expected-rows estimate, so a corpus
        that grows far past the estimate silently turns every
        whole-bucket read into O(corpus/constant). One scan, key column
        only (column-pruned); the mean is over ALL buckets including
        empty ones (the r14 skew-audit lesson), read from the recorded
        bucket count. ``bucket_expr`` overrides the default hash
        ``bucket_of(key_col)`` for non-hash lineages (r15); without it,
        a recorded non-hash ``bucket_scheme`` fails loudly."""
        from pyspark.sql import functions as F

        v = self.latest_version()
        if v == 0:
            return {"n_rows": 0, "n_buckets": 0, "max_bucket_rows": 0,
                    "mean_bucket_rows": 0.0}
        self._bucket_map(v)  # fail fast on a non-bucketed lineage
        if bucket_expr is None:
            self._check_bucket_scheme(key_col, "bucket_occupancy")
        n_buckets = int(self._manifest(v)["n_buckets"])
        if bucket_expr is None:
            bucket_expr = self.bucket_of(F.col(key_col), n_buckets)
        occ = (
            self.read(spark)
            .groupBy(bucket_expr.alias("_b"))
            .agg(F.count("*").alias("n"))
            .agg(F.sum("n").alias("total"), F.max("n").alias("mx"))
            .first()
        )
        total = int(occ["total"] or 0)
        return {
            "n_rows": total,
            "n_buckets": n_buckets,
            "max_bucket_rows": int(occ["mx"] or 0),
            "mean_bucket_rows": round(total / n_buckets, 2),
        }

    def rebucket(
        self,
        spark: SparkSession,
        key_col: str,
        new_n_buckets: int,
        extra: dict | None = None,
        bucket_expr=None,
    ) -> int:
        """Bucket-count migration (r14, VERDICT r13 ask 2) — the
        growth-lifecycle twin of the IVF requantize: bucketed tables
        record their bucket count at creation (sized from an
        expected-rows estimate), and `_check_n_buckets` then rightly
        refuses any other count — so a corpus that grows 100× past the
        estimate is stuck with O(corpus/constant) whole-bucket reads
        until the table is REBUCKETED. This is that migration as ONE
        bounded rewrite:

        - read every stored row once (a migration is O(|table|) by
          necessity — one pass, not per-bucket jobs);
        - rehash each key under the new count (``bucket_expr`` overrides
          for identity-bucketed lineages);
        - commit atomically via ``commit_buckets(replace_all_buckets=
          True)`` — the one commit shape under which the bucket count
          may legally change, because nothing carries over by reference.
          A crash mid-migration leaves the pre-migration version current
          (manifest-swap atomicity): all-or-nothing.

        CURSOR-PRESERVING: the parent's extras (``last_batch_id`` replay
        cursor and all other caller metadata) carry forward through the
        commit, so a stream resumes exactly where it left off — against
        an applier built with the NEW count (the count travels with the
        applier the way the IVF quantizer travels with its applier; read
        it back via ``latest_manifest_field("n_buckets")``). Appended
        dir chains fold as a side effect (each bucket lands ~1 dir).
        Returns the new version."""
        from pyspark.sql import functions as F

        v = self.latest_version()
        if v == 0:
            raise ValueError(f"{self.path}: no committed versions")
        self._bucket_map(v)  # fail fast on a non-bucketed lineage
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        if bucket_expr is None:
            self._check_bucket_scheme(key_col, "rebucket")
            bucket_expr = self.bucket_of(F.col(key_col), new_n_buckets)
        return self.commit_buckets(
            self.read(spark).withColumn("_bucket", bucket_expr),
            list(range(new_n_buckets)),
            n_buckets=new_n_buckets,
            extra=extra,
            replace_all_buckets=True,
        )

    def maybe_rebucket(
        self,
        spark: SparkSession,
        key_col: str,
        rows_per_bucket_target: int,
        extra: dict | None = None,
        bucket_expr_of=None,
    ) -> int | None:
        """The trigger→migration loop closed in one operator call (r14):
        audit rows-per-bucket and, ONLY if the all-buckets mean exceeds
        ``rows_per_bucket_target``, rebucket to the next power-of-two
        multiple of the current count that brings the mean back under
        target. Returns the new version, or None when the table is
        within bounds (the common case — one column-pruned scan, no
        write). Deliberately NOT called from streaming appliers: a
        migration is an O(|table|) rewrite an operator should schedule
        (maintenance window), not a surprise a micro-batch springs —
        run it on the same cadence as fsck, like the IVF family's
        skew-audit → requantize pairing.

        ``bucket_expr_of`` (r15) is a callable ``n_buckets -> Column``
        supplying the bucket rule for non-hash lineages — it is invoked
        once with the CURRENT count for the audit and once with the NEW
        count for the migration. Without it, a recorded non-hash
        ``bucket_scheme`` fails loudly instead of silently re-hashing an
        identity-bucketed layout out from under its readers (ADVICE
        r14)."""
        if rows_per_bucket_target < 1:
            # <= 0 would always trigger and the doubling search below
            # could never terminate (n * 0 stays 0) — fail like
            # rebucket's new_n_buckets guard (ADVICE r14)
            raise ValueError(
                f"rows_per_bucket_target must be >= 1, got "
                f"{rows_per_bucket_target}"
            )
        v = self.latest_version()
        cur_n = (
            int(self._manifest(v)["n_buckets"]) if v > 0 else 0
        )
        occ = self.bucket_occupancy(
            spark,
            key_col,
            bucket_expr=bucket_expr_of(cur_n) if bucket_expr_of else None,
        )
        if occ["n_buckets"] == 0 or occ["n_rows"] == 0:
            return None
        if occ["mean_bucket_rows"] <= rows_per_bucket_target:
            return None
        n = occ["n_buckets"]
        while occ["n_rows"] > n * rows_per_bucket_target:
            n *= 2
        return self.rebucket(
            spark,
            key_col,
            n,
            extra=extra,
            bucket_expr=bucket_expr_of(n) if bucket_expr_of else None,
        )

    def delete_where(
        self, spark: SparkSession, predicate: str, extra: dict | None = None
    ) -> int:
        """Copy-on-write DELETE: remove rows where ``predicate`` is TRUE and
        commit the result as a new overwrite version (the pre-delete version
        stays readable — the GDPR-erasure shape still wants the *lineage*
        expired afterwards via ``expire``, which physically removes the old
        data dirs).

        ``extra`` merges caller metadata into the new manifest on top of
        the carried-forward parent extras (reserved keys guarded) — e.g.
        an incremental index whose corpus counters must shrink with the
        erased rows updates them atomically with the delete.

        Dir-level pruning, the same play Delta/Iceberg make at file level:
        ONE parallel probe job scans every manifest dir with the predicate
        pushed down and reports the dirs that actually contain matches
        (``input_file_name()`` over only the MATCHING rows — parquet
        footer stats make no-hit files metadata-cheap), and only those
        dirs are rewritten — untouched dirs carry over into the new
        manifest by reference, so a delete that touches one ingest batch
        rewrites one batch, not the table. (A per-dir LIMIT-1 loop — the
        pre-r12 shape — is O(manifest dirs) SEQUENTIAL driver jobs: at
        thousands of commits the job-launch overhead dominates the erase
        wall; one cluster-parallel pass does not.)

        SQL DELETE three-valued logic: rows where the predicate is NULL
        are NOT deleted (kept), matching ``DELETE FROM t WHERE p``."""
        from pyspark.sql import functions as F

        _check_extra_keys(extra)
        parent = self.latest_version()
        if parent == 0:
            raise ValueError(f"{self.path}: no committed versions")
        pm = self._manifest(parent)
        mixed = pm.get("mixed_schemas", False)
        # on a schema-evolved lineage every read must see the UNION schema
        # (the current commit's, recorded in the manifest), or a predicate
        # on an added column crashes with UNRESOLVED_COLUMN on
        # pre-evolution dirs instead of reading NULL (ADD COLUMN semantics)
        reader = self._reader(spark, pm, merge_mixed=False)

        keep = ~F.coalesce(F.expr(predicate), F.lit(False))
        untouched, touched, touched_set = [], [], set()
        if pm["dirs"]:
            # one parallel probe over every dir: project the matching
            # rows down to their file names, fold to the distinct dir set
            # — O(matching files) rows to the driver, bounded by the
            # manifest size
            hit_files = (
                reader.parquet(*pm["dirs"])
                .filter(predicate)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            )
            touched_set = _attribute_hit_dirs(
                [r.f for r in hit_files], pm["dirs"], f"{self.path} v{parent}"
            )
            for d in pm["dirs"]:
                (touched if d in touched_set else untouched).append(d)
        version = parent + 1
        if "buckets" in pm:
            # BUCKETED parent: preserve the bucket map — each touched dir
            # is rewritten into its OWN new dir (dir identity carries the
            # bucket; the key column/bucket count are not needed), so
            # read_buckets keeps pruning correctly after the delete. One
            # scan of every touched dir, each row tagged with its source
            # dir's index, and one write partitioned by that tag: a dir
            # whose rows all go becomes no partition and leaves its
            # bucket's list (commit_buckets' [] convention for an empty
            # bucket) — no per-dir count or write job
            rewritten: dict[str, str] = {}
            if touched:
                src = "_delete_src"
                kept = functools.reduce(
                    DataFrame.unionAll,
                    [
                        reader.parquet(d).withColumn(src, F.lit(i))
                        for i, d in enumerate(touched)
                    ],
                ).filter(keep)
                data_dir = self._fresh_data_dir(version)
                # all of a source dir's rows land in one task, so each
                # new dir is one file
                kept.repartition(len(touched), src).write.mode(
                    "error"
                ).partitionBy(src).parquet(data_dir)
                for i, d in enumerate(touched):
                    nd = f"{data_dir}/{src}={i}"
                    if os.path.isdir(nd):
                        rewritten[d] = nd
                if not rewritten:
                    # nothing survived anywhere: no dir of this write is
                    # referenced, so drop its bare _SUCCESS marker now
                    # rather than leave it to the orphan sweep
                    import shutil

                    shutil.rmtree(data_dir)
            buckets = {
                b: [
                    rewritten[d] if d in touched_set else d
                    for d in ds
                    if d not in touched_set or d in rewritten
                ]
                for b, ds in pm["buckets"].items()
            }
            dirs = sorted(d for ds in buckets.values() for d in ds)
            self._write_manifest(
                {
                    **_extra_fields(pm),  # e.g. the replay cursor survives
                    **(extra or {}),
                    "version": version,
                    "parent": parent,
                    "mode": "delete",
                    "dirs": dirs,
                    "zonemaps": self._carry_zonemaps(pm, dirs),
                    "blooms": self._carry_blooms(pm, dirs),
                    "buckets": buckets,
                    "n_buckets": pm.get("n_buckets"),
                    "schema": pm.get("schema"),
                    "mixed_schemas": mixed,
                }
            )
            return version
        dirs = list(untouched)
        if touched:
            # the rewrite must read under the UNION schema too:
            # mergeSchema over just the touched dirs is
            # NOT enough — if only pre-evolution dirs matched, their
            # merged schema lacks the added column and the predicate
            # crashes with UNRESOLVED_COLUMN instead of seeing NULL
            kept = reader.parquet(*touched).filter(keep)
            data_dir = self._fresh_data_dir(version)
            kept.write.mode("error").parquet(data_dir)
            dirs.append(data_dir)
        self._write_manifest(
            {
                **_extra_fields(pm),  # caller metadata survives the delete
                **(extra or {}),
                "version": version,
                "parent": parent,
                "mode": "delete",
                "dirs": dirs,
                # dirs are immutable, so surviving dirs keep their zone
                # maps; the rewrite dir simply has no entry (conservative)
                "zonemaps": self._carry_zonemaps(pm, dirs),
                "blooms": self._carry_blooms(pm, dirs),
                "schema": pm.get("schema"),
                # the rewrite may have unified the touched dirs, but any
                # untouched pre-evolution dir still carries its old schema
                "mixed_schemas": mixed,
            }
        )
        return version

    def commit_metadata(self, extra: dict) -> int:
        """Metadata-only commit: a new version whose data is the parent's
        by reference (dirs, bucket map, schema, zone maps, blooms) with
        ``extra`` merged over the parent's caller metadata — e.g. clearing
        a pending marker. O(1): no data dir is opened. Published through
        the same CAS as every commit. Returns the new version."""
        _check_extra_keys(extra)
        parent = self.latest_version()
        if parent == 0:
            raise ValueError(f"{self.path}: no committed versions")
        pm = self._manifest(parent)
        pm.pop("restored_from", None)
        self._write_manifest(
            {
                **pm,
                **extra,
                "version": parent + 1,
                "parent": parent,
                "mode": "metadata",
            }
        )
        return parent + 1

    def restore(self, version: int) -> int:
        """RESTORE: make an earlier version current again as a NEW commit —
        a manifest-only metadata operation (the restored version's data
        dirs are referenced, never copied or rewritten), so rollback is
        O(1) regardless of table size, and the mistaken history stays
        time-travel readable for forensics. The table-format answer to
        'the bad deploy wrote garbage': flip back instantly, investigate
        later."""
        if version not in self.versions():
            raise ValueError(f"{self.path}: no version {version}")
        parent = self.latest_version()
        tm = self._manifest(version)
        m = {
            # restore the restored version's caller metadata WITH its data:
            # a matview rolled back to v3 must also roll its last_batch_id
            # cursor back to v3's, or replays between the two states would
            # be skipped/double-applied inconsistently
            **_extra_fields(tm),
            "version": parent + 1,
            "parent": parent,
            "mode": "restore",
            "restored_from": version,
            "dirs": list(tm["dirs"]),
            "zonemaps": self._carry_zonemaps(tm, list(tm["dirs"])),
            "blooms": self._carry_blooms(tm, list(tm["dirs"])),
            "schema": tm.get("schema"),
            "mixed_schemas": tm.get("mixed_schemas", False),
        }
        if "buckets" in tm:  # bucketed lineage keeps its bucket map + count
            m["buckets"] = tm["buckets"]
            m["n_buckets"] = tm.get("n_buckets")
        self._write_manifest(m)
        return parent + 1

    # -- maintenance ---------------------------------------------------------

    def compact(self, spark: SparkSession, max_dirs: int = 1) -> int:
        """Compaction: when append lineage has fragmented the visible file
        set across more than ``max_dirs`` data dirs, rewrite the current
        version into ONE fresh dir and commit it — content-identical, new
        version, old versions still readable until ``expire``. The
        small-files half of the maintenance triad (merge/delete/compact);
        at real scale this is the nightly job that keeps scan task counts
        and parquet footer overhead bounded as ingest appends accumulate.
        Returns the new version, or the current one if already compact."""
        parent = self.latest_version()
        if parent == 0:
            raise ValueError(f"{self.path}: no committed versions")
        pm = self._manifest(parent)
        if "buckets" in pm:
            # commit_buckets keeps each bucket at one dir per rewrite, so
            # bucketed lineages don't fragment the way append chains do;
            # a plain compact would flatten the bucket map and break
            # read_buckets — refuse loudly instead of corrupting
            raise ValueError(
                f"{self.path}: compact() does not apply to bucketed "
                "tables (per-bucket commits already keep one dir per "
                "touched bucket; delete_where preserves the map)"
            )
        if len(pm["dirs"]) <= max_dirs:
            return parent
        return self.commit(self.read(spark, parent), mode="overwrite")

    def compact_small(
        self, spark: SparkSession, small_bytes: int = 128 << 20
    ) -> int:
        """INCREMENTAL small-file compaction — the OPTIMIZE shape
        ``compact()`` lacks: fold only the data dirs whose on-disk size is
        under ``small_bytes`` into ONE fresh dir and carry every large dir
        into the new manifest BY REFERENCE. Cost is proportional to the
        small-file mass, never the table — on a 100 TB table where ingest
        appends accumulate KB-scale batch dirs next to TB-scale compacted
        ones, the nightly job rewrites the KBs and leaves the TBs alone
        (compact()'s full rewrite cannot). Returns the new version, or the
        parent if fewer than two dirs qualify (nothing to fold).

        Size probing is one ``os.walk`` per manifest dir — O(files) driver
        metadata, no data read; on an object store this is the LIST call
        every format-native OPTIMIZE makes. The pre-compaction version
        stays time-travel readable until ``expire``."""
        parent = self.latest_version()
        if parent == 0:
            raise ValueError(f"{self.path}: no committed versions")
        pm = self._manifest(parent)
        if "buckets" in pm:
            raise ValueError(
                f"{self.path}: compact_small() does not apply to bucketed "
                "tables (per-bucket commits already keep one dir per "
                "touched bucket; a flat fold would break the bucket map)"
            )

        def dir_bytes(d: str) -> int:
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(d)
                for f in fs
            )

        small = {d for d in pm["dirs"] if dir_bytes(d) < small_bytes}
        if len(small) < 2:
            return parent
        mixed = pm.get("mixed_schemas", False)
        # fold under the recorded (UNION) schema, same as delete_where's
        # rewrite: small pre-evolution dirs must read their missing
        # columns as NULL (ADD COLUMN semantics), not crash the fold
        reader = self._reader(spark, pm, merge_mixed=False)
        version = parent + 1
        nd = self._fresh_data_dir(version)
        reader.parquet(*sorted(small)).write.mode("error").parquet(nd)
        self._write_manifest(
            {
                **_extra_fields(pm),  # caller metadata survives the fold
                "version": version,
                "parent": parent,
                "mode": "compact",
                "dirs": [d for d in pm["dirs"] if d not in small] + [nd],
                "zonemaps": self._carry_zonemaps(
                    pm, [d for d in pm["dirs"] if d not in small]
                ),
                "blooms": self._carry_blooms(
                    pm, [d for d in pm["dirs"] if d not in small]
                ),
                "schema": pm.get("schema"),
                # untouched large pre-evolution dirs may still carry their
                # old schema — the fold does not un-mix the lineage
                "mixed_schemas": mixed,
            }
        )
        return version

    def expire(
        self,
        keep_last: int = 1,
        orphan_ttl_s: float = 24 * 3600,
    ) -> list[int]:
        """Expire all but the newest ``keep_last`` versions: delete their
        manifests, then delete any data directory no surviving manifest
        references (append lineage means an old dir can still back a live
        version — refcount before delete). Returns the expired versions.
        Manifests are removed OLDEST-FIRST and each data dir only after
        every manifest that references it is gone, so a reader of a
        surviving version never loses a file out from under it.

        ORPHAN SWEEP: a crash between the data write and the manifest
        publish leaves an invisible ``v*``/``v*-r*`` attempt dir that no
        manifest ever references — harmless to readers but a permanent
        disk leak. After the version expiry, any ``data/`` entry that
        backs no surviving manifest (directly or via bucket
        subdirectories) AND is older than ``orphan_ttl_s`` is removed.
        The TTL is the same guard Delta's VACUUM retention provides: a
        CONCURRENT writer's data dir legitimately exists before its
        manifest does, so only dirs old enough that no in-flight commit
        can still own them are swept (tests pass ``orphan_ttl_s=0``)."""
        import shutil
        import time

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        expired = vs[:-keep_last]
        survivors = vs[-keep_last:]
        live_dirs = set()
        for v in survivors:
            live_dirs.update(self._manifest(v)["dirs"])
        for v in expired:
            dead = [d for d in self._manifest(v)["dirs"] if d not in live_dirs]
            os.remove(f"{self._mdir}/v{v:06d}.json")
            for d in dead:
                # only dirs no *earlier surviving* manifest needs; later
                # expired manifests can't resurrect them (append lineage
                # only ever carries dirs forward, and we walk oldest-first)
                if os.path.isdir(d):
                    shutil.rmtree(d)
        # orphan sweep: unreferenced + old enough = no manifest will ever
        # publish it (commits publish immediately after writing)
        data_root = f"{self.path}/data"
        if os.path.isdir(data_root):
            now = time.time()
            for name in os.listdir(data_root):
                d = f"{data_root}/{name}"
                if not os.path.isdir(d):
                    continue
                # live directly, or live through a bucket subdir
                # (commit_buckets manifests list data/vN/_bucket=B paths)
                if d in live_dirs or any(
                    ld.startswith(d + "/") for ld in live_dirs
                ):
                    continue
                if now - os.path.getmtime(d) >= orphan_ttl_s:
                    shutil.rmtree(d)
        return expired

    def version_as_of(self, ts: float) -> int:
        """TIMESTAMP AS OF: the latest version whose manifest was
        PUBLISHED at or before unix-time ``ts`` (publish time is the
        manifest file's mtime — set atomically by the CAS link, so it is
        the commit instant). Raises if the table has no version that old.
        The manifest-mtime basis matches Delta's commit-file-timestamp
        semantics, including the caveat: restoring/copying the _manifests
        dir with fresh mtimes rewrites history's clock."""
        best = 0
        for v in self.versions():
            if os.path.getmtime(f"{self._mdir}/v{v:06d}.json") <= ts:
                best = max(best, v)
        if best == 0:
            raise ValueError(
                f"{self.path}: no version committed at or before {ts}"
            )
        return best

    def read_as_of(self, spark: SparkSession, ts: float) -> DataFrame:
        """``read`` at the version current as of unix-time ``ts``."""
        return self.read(spark, self.version_as_of(ts))

    def changes(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> DataFrame:
        """CHANGE DATA FEED between two versions: every row inserted or
        deleted going v_from -> v_to, tagged ``_change_type``
        ('insert' | 'delete'). Updates surface as delete+insert pairs
        (bag semantics — a row's multiplicity change emits the
        difference), exactly the Delta CDF contract for a format that
        stores rows, not row ids.

        FORMAT-AWARE FAST PATHS:
        - APPEND: when v_to's visible file set is a superset of v_from's,
          the feed is just the new dirs read directly — O(|delta|) with
          no diff computation and NOTHING read from the shared dirs
          (their rows cannot have changed: dirs are immutable).
        - BUCKETED: when both versions carry the same bucket map
          structure (merge_bucketed / bucketed-delete lineage), buckets
          whose dir lists are IDENTICAL are skipped entirely and the bag
          diff runs over the TOUCHED buckets only — the change feed of a
          100 TB keyed-state CDC table costs O(touched buckets' bytes),
          never O(|state|), mirroring the write path's guarantee.
        Anything else falls back to a bag diff (EXCEPT ALL both ways)
        over the two full versions — the honest cost of row-level change
        extraction without stored row ids."""
        from pyspark.sql import functions as F

        vs = self.versions()
        if v_from not in vs or v_to not in vs:
            raise ValueError(f"{self.path}: need committed v{v_from}, v{v_to}")
        if v_from >= v_to:
            raise ValueError("changes(): v_from must precede v_to")
        mf, mt = self._manifest(v_from), self._manifest(v_to)
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        new = self.read(spark, v_to)

        def align(df: DataFrame) -> DataFrame:
            # present every feed row in v_to's read schema (the lineage
            # union under ADD COLUMN evolution): columns the older side /
            # a narrower dir lacks surface as typed NULLs, exactly as a
            # mergeSchema read of those rows would show them — without
            # this, a schema-evolved bag diff crashes on a column-count
            # mismatch and a fast path typed by the last commit's narrow
            # manifest schema silently drops evolved values
            for f in new.schema.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            return df.select(*[f.name for f in new.schema.fields])

        old_dirs = set(mf["dirs"])
        if old_dirs <= set(mt["dirs"]):
            new_dirs = [d for d in mt["dirs"] if d not in old_dirs]
            if not new_dirs:
                return tag(new.limit(0), "insert")
            return tag(
                align(self._reader(spark, mt).parquet(*new_dirs)), "insert"
            )
        if "buckets" in mf and "buckets" in mt and (
            mf.get("n_buckets") == mt.get("n_buckets")
        ):
            # bucketed fast path: identical dir lists ⇒ identical rows
            # (dirs are immutable), so only TOUCHED buckets enter the diff
            bf, bt = mf["buckets"], mt["buckets"]
            touched = [
                b
                for b in sorted(set(bf) | set(bt))
                if bf.get(b, []) != bt.get(b, [])
            ]

            def bucket_side(bm: dict, m: dict) -> DataFrame:
                dirs = [d for b in touched for d in bm.get(b, [])]
                if not dirs:
                    return align(new.limit(0))
                # read under the side's RECORDED manifest schema (the
                # lineage union at that version), exactly as delete_where
                # does: bare footer inference would type the side
                # by one arbitrary dir and silently drop an evolved
                # column's values from the other dirs BEFORE align() pads
                # NULLs — the carried-over narrow buckets must read the
                # added column as typed NULL, not erase the wide ones'
                if m.get("schema"):
                    reader = self._reader(spark, m, merge_mixed=False)
                else:
                    reader = spark.read.option("mergeSchema", True)
                return align(reader.parquet(*dirs))

            old_b, new_b = bucket_side(bf, mf), bucket_side(bt, mt)
            return tag(new_b.exceptAll(old_b), "insert").unionByName(
                tag(old_b.exceptAll(new_b), "delete")
            )
        old = align(self.read(spark, v_from))
        return tag(new.exceptAll(old), "insert").unionByName(
            tag(old.exceptAll(new), "delete")
        )

    def vacuum_report(
        self, keep_last: int = 1, orphan_ttl_s: float = 24 * 3600
    ) -> dict:
        """VACUUM DRY RUN: what ``expire(keep_last)`` WOULD remove,
        without touching anything — the pre-flight every retention job
        runs before destroying history. Returns manifest-level metadata
        only (O(commits) driver work, no data I/O):

        - ``expire_versions``: versions whose manifests would be deleted
        - ``removable_dirs``: data dirs no surviving version references
          (refcounted exactly like expire's oldest-first walk)
        - ``orphan_dirs``: data/ entries no manifest references at all
          AND older than ``orphan_ttl_s`` — the same TTL guard expire()
          applies, so the dry run never reports an in-flight concurrent
          writer's legitimate pre-manifest dir as removable
        - ``keep_versions``: the survivors"""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        expired, survivors = vs[:-keep_last], vs[-keep_last:]
        live_dirs = set()
        for v in survivors:
            live_dirs.update(self._manifest(v)["dirs"])
        removable, seen = [], set(live_dirs)
        for v in expired:
            for d in self._manifest(v)["dirs"]:
                if d not in seen:
                    seen.add(d)
                    removable.append(d)
        all_ref = set(live_dirs)
        for v in expired:
            all_ref.update(self._manifest(v)["dirs"])
        import time

        orphans = []
        now = time.time()
        data_root = f"{self.path}/data"
        if os.path.isdir(data_root):
            for name in sorted(os.listdir(data_root)):
                d = f"{data_root}/{name}"
                if not os.path.isdir(d):
                    continue
                if d in all_ref or any(
                    r.startswith(d + "/") for r in all_ref
                ):
                    continue
                if now - os.path.getmtime(d) >= orphan_ttl_s:
                    orphans.append(d)
        return {
            "expire_versions": expired,
            "keep_versions": survivors,
            "removable_dirs": removable,
            "orphan_dirs": orphans,
        }

    def history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE HISTORY: the commit log as a DataFrame — one row per
        version with its mode (overwrite/append/delete/restore), parent,
        dir count and restore source. Pure manifest metadata (O(commits)),
        no data files touched; the observability surface every table
        format exposes for audits and incident forensics."""
        rows = []
        for v in self.versions():
            m = self._manifest(v)
            rows.append(
                (
                    v,
                    m.get("mode", "overwrite"),
                    m["parent"],
                    len(m["dirs"]),
                    m.get("restored_from"),
                )
            )
        return local_frame(
            spark,
            rows,
            "version int, mode string, parent int, n_dirs int,"
            " restored_from int",
        )

    # -- read path -----------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v == 0:
            raise ValueError(f"{self.path}: no committed versions")
        m = self._manifest(v)
        if not m["dirs"]:
            # a version can legitimately reference ZERO data dirs — e.g. a
            # delete that emptied every bucket records each as [] — and
            # zero paths leave nothing to infer a schema from; rebuild the
            # typed empty relation from the manifest's recorded schema
            if not m.get("schema"):
                raise ValueError(
                    f"{self.path} v{v}: empty version with no recorded "
                    "schema in its manifest lineage"
                )
            return local_frame(spark, [], StructType.fromJson(m["schema"]))
        # an append lineage that spans a schema change merges footers so
        # pre-evolution rows read as NULL in the added columns (paid only
        # on evolved lineages); every other read is typed by the manifest
        return self._reader(spark, m).parquet(*m["dirs"])
