"""The filesystem layer (dsgrid_spark/filesystem.py) and the driver-side
metadata IO built on it (indexlog.read_meta_rows / write_meta_rows).

- one parity harness runs the same operations on LocalFilesystem and on
  HadoopFilesystem over identical trees and asserts equal results;
- the metadata writer stays bit- and schema-compatible with Spark's
  parquet reader and writer, in BOTH directions (indexes written by the
  Spark writer keep reading);
- a set of index-lifecycle tests runs a second time with every
  pipeline storage call on HadoopFilesystem over file:// — the code an
  hdfs:// or s3a:// index runs;
- only filesystem.py and indexsync's cross-filesystem copy may call
  org.apache.hadoop.fs directly.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
from pathlib import Path

import pytest

from dsgrid_spark import filesystem
from dsgrid_spark.filesystem import (FileStatus, HadoopFilesystem,
                                     LocalFilesystem, filesystem_for)
from dsgrid_spark.pipeline import indexlog
from dsgrid_spark.session import one_slice_df

STATS_DDL = ("n_docs long, total_tokens long, n_buckets int,"
             " has_positions boolean, analyzer string")
STATS_ROW = [(250, 31415, 8, False, "simple")]


# ---------------------------------------------------------------------------
# Parity harness: LocalFilesystem vs HadoopFilesystem
# ---------------------------------------------------------------------------

#: mtime (epoch seconds) stamped on every fixture entry, ms-exact
_MTIME = 1_600_000_000.125


def _build_tree(root: Path) -> None:
    """The fixture tree: data files, partition dirs, and the
    ``_``/``.``-prefixed side entries metadata dirs carry."""
    files = {
        "part-0.parquet": b"p0",
        "_SUCCESS": b"",
        ".hidden": b"h",
        ".part-1.parquet.tmp": b"tmp",
        "batch=a/part-0.parquet": b"a" * 10,
        "batch=b/part-0.parquet": b"b" * 20,
        "batch=b/_SUCCESS": b"",
        "_tmp_gen_x/part-0.parquet": b"x",
        "locks/compact.lock": b"",
    }
    for rel, data in files.items():
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    for p in sorted(root.rglob("*"), reverse=True):
        os.utime(p, (_MTIME, _MTIME))


def _tree(root: Path) -> dict[str, bytes | None]:
    """Relative path -> content (None for dirs), Hadoop's hidden
    ``.<name>.crc`` checksum sidecars excluded."""
    out = {}
    for p in sorted(root.rglob("*")):
        if p.name.startswith(".") and p.name.endswith(".crc"):
            continue
        out[p.relative_to(root).as_posix()] = (
            None if p.is_dir() else p.read_bytes())
    return out


def _normalize(value, root: str):
    """Replace the implementation's spelling of its tree root (a bare
    path, or a file: URI) with one placeholder, recursively."""
    if isinstance(value, str):
        for prefix in (f"file://{root}", f"file:{root}", root):
            value = value.replace(prefix, "<root>")
        return value
    if isinstance(value, FileStatus):
        return FileStatus(*(_normalize(v, root) for v in value))
    if isinstance(value, (list, tuple)):
        return type(value)(_normalize(v, root) for v in value)
    if isinstance(value, dict):
        return {k: _normalize(v, root) for k, v in value.items()}
    return value


def assert_local_and_hadoop_equal(spark, tmp_path, op):
    """Run ``op(fs, root)`` on a LocalFilesystem and on a
    HadoopFilesystem (file:// root), each over its own copy of the
    fixture tree; assert equal results AND equal trees afterwards."""
    results, trees = {}, {}
    for name, fs in (("local", LocalFilesystem()),
                     ("hadoop", HadoopFilesystem(spark, "file:///"))):
        root = tmp_path / name
        _build_tree(root)
        results[name] = _normalize(op(fs, str(root)), str(root))
        trees[name] = _tree(root)
    assert results["local"] == results["hadoop"]
    assert trees["local"] == trees["hadoop"]
    return results["local"]


def _glob_rows(fs, pattern):
    return [(st.path, st.is_dir, st.mtime_ms, st.name)
            for st in fs.glob(pattern)]


@pytest.mark.parametrize("pattern", [
    "*", "batch=*", "_*", ".*", "*/part-*", "batch=b/*", "locks/*.lock",
    "nomatch*", "missing/batch=*", "batch=a",
])
def test_glob_parity(spark, tmp_path, pattern):
    """Wildcards skip '.'-names (hidden temp files) on both
    implementations unless the pattern asks for them; '_'-names and
    batch= dirs match; no match is []; mtime and is-dir agree."""
    got = assert_local_and_hadoop_equal(
        spark, tmp_path, lambda fs, root: _glob_rows(fs, f"{root}/{pattern}"))
    if pattern == "*":
        names = [r[3] for r in got]
        assert "_SUCCESS" in names and "batch=a" in names
        assert not any(n.startswith(".") for n in names)
        assert all(r[2] == int(_MTIME * 1000) for r in got)
    if pattern == ".*":
        assert [r[3] for r in got] == [".hidden", ".part-1.parquet.tmp"]
    if pattern.startswith(("nomatch", "missing")):
        assert got == []


@pytest.mark.parametrize("case", [
    "bytes_round_trip", "text_round_trip", "rename_to_missing_dst",
    "rename_missing_src", "rename_dir", "rm_tree_missing", "rm_tree_dir",
    "rm_tree_file", "create_exclusive_existing", "create_exclusive_new",
    "mkdirs_exists", "list_sizes", "list_sizes_missing",
])
def test_filesystem_parity(spark, tmp_path, case):
    """Every primitive the pipeline uses returns the same thing and
    leaves the same tree on both implementations."""
    ops = {
        "bytes_round_trip": lambda fs, r: (
            fs.write_bytes(f"{r}/new/deep/f.bin", bytes(range(256))),
            fs.read_bytes(f"{r}/new/deep/f.bin"),
            fs.read_bytes(f"{r}/batch=b/part-0.parquet")),
        "text_round_trip": lambda fs, r: (
            fs.write_text(f"{r}/t.json", '{"k": "v\u00e9"}'),
            fs.read_text(f"{r}/t.json")),
        "rename_to_missing_dst": lambda fs, r: (
            fs.rename(f"{r}/part-0.parquet", f"{r}/moved.parquet"),
            fs.exists(f"{r}/part-0.parquet")),
        "rename_missing_src": lambda fs, r: fs.rename(
            f"{r}/nope", f"{r}/nope2"),
        "rename_dir": lambda fs, r: fs.rename(
            f"{r}/_tmp_gen_x", f"{r}/batch=x"),
        "rm_tree_missing": lambda fs, r: fs.rm_tree(f"{r}/nope"),
        "rm_tree_dir": lambda fs, r: fs.rm_tree(f"{r}/batch=b"),
        "rm_tree_file": lambda fs, r: fs.rm_tree(f"{r}/_SUCCESS"),
        "create_exclusive_existing": lambda fs, r: fs.create_exclusive(
            f"{r}/locks/compact.lock", "mine"),
        "create_exclusive_new": lambda fs, r: (
            fs.create_exclusive(f"{r}/locks/new.lock", "mine"),
            fs.read_text(f"{r}/locks/new.lock")),
        "mkdirs_exists": lambda fs, r: (
            fs.mkdirs(f"{r}/intents/auto000001"),
            fs.exists(f"{r}/intents/auto000001"),
            fs.exists(f"{r}/intents/nope")),
        "list_sizes": lambda fs, r: fs.list_sizes(r),
        "list_sizes_missing": lambda fs, r: fs.list_sizes(f"{r}/nope"),
    }
    got = assert_local_and_hadoop_equal(spark, tmp_path, ops[case])
    expected = {
        "rename_to_missing_dst": (True, False),
        "rename_missing_src": False,
        "rename_dir": True,
        "create_exclusive_existing": False,
        "create_exclusive_new": (True, "mine"),
        "list_sizes": [("_tmp_gen_x/part-0.parquet", 1),
                       ("batch=a/part-0.parquet", 10),
                       ("batch=b/part-0.parquet", 20),
                       ("locks/compact.lock", 0),
                       ("part-0.parquet", 2)],
        "list_sizes_missing": [],
    }
    if case in expected:
        assert got == expected[case]


def test_rm_tree_removes_checksum_sidecar(tmp_path):
    """A local delete of a file Spark wrote through Hadoop's checksummed
    local FS takes its hidden .crc sidecar along, as a Hadoop delete
    does (a flat-layout sweep must leave no debris)."""
    (tmp_path / "part-0.parquet").write_bytes(b"x")
    (tmp_path / ".part-0.parquet.crc").write_bytes(b"c")
    LocalFilesystem().rm_tree(str(tmp_path / "part-0.parquet"))
    assert os.listdir(tmp_path) == []


# ---------------------------------------------------------------------------
# filesystem_for: scheme resolution
# ---------------------------------------------------------------------------

class _Conf:
    def __init__(self, default_fs):
        self.default_fs = default_fs
        self.reads = 0

    def get(self, key, default):
        assert key == "fs.defaultFS"
        self.reads += 1
        return self.default_fs


class _StubSession:
    """Just enough of a SparkSession for filesystem_for to read
    fs.defaultFS — no JVM, no network filesystem."""

    def __init__(self, default_fs):
        self.conf = _Conf(default_fs)
        self._jsc = self  # spark._jsc.hadoopConfiguration()

    def hadoopConfiguration(self):
        return self.conf


def test_filesystem_for_resolves_bare_paths_against_default_fs(monkeypatch):
    """A bare path goes where Spark's own reads and writes of it go:
    local under a file: default FS, the Hadoop connector under an HDFS
    default — never silently local. fs.defaultFS is read once per
    session; explicit schemes ignore it."""
    made = []

    class FakeHadoop:
        def __init__(self, spark, root):
            made.append(root)

    monkeypatch.setattr(filesystem, "HadoopFilesystem", FakeHadoop)

    hdfs = _StubSession("hdfs://nn:8020")
    fs = filesystem_for(hdfs, "/data/index")
    assert isinstance(fs, FakeHadoop) and made == ["hdfs://nn:8020/"]
    assert filesystem_for(hdfs, "/data/other") is fs  # cached per session
    assert isinstance(filesystem_for(hdfs, "file:///tmp/x"), LocalFilesystem)
    assert isinstance(filesystem_for(hdfs, "s3a://bucket/idx"), FakeHadoop)
    assert made == ["hdfs://nn:8020/", "s3a://bucket/"]
    assert hdfs.conf.reads == 1

    local = _StubSession("file:///")
    assert isinstance(filesystem_for(local, "/data/index"), LocalFilesystem)
    assert isinstance(filesystem_for(local, "hdfs://nn/idx"), FakeHadoop)


# ---------------------------------------------------------------------------
# Driver-side metadata IO (indexlog.read_meta_rows / write_meta_rows)
# ---------------------------------------------------------------------------

def test_write_meta_rows_spark_readable(spark, tmp_path):
    """A flat overwrite via the driver-side writer reads back through
    spark.read.parquet with the values AND dtypes the one_slice_df
    Spark write produces."""
    fast = f"{tmp_path}/fast"
    slow = f"{tmp_path}/slow"
    indexlog.write_meta_rows(spark, fast, STATS_ROW, STATS_DDL)
    (one_slice_df(spark, STATS_ROW, STATS_DDL)
       .write.mode("overwrite").parquet(slow))
    df_fast = spark.read.parquet(fast)
    df_slow = spark.read.parquet(slow)
    assert df_fast.schema == df_slow.schema
    assert ([tuple(r) for r in df_fast.collect()]
            == [tuple(r) for r in df_slow.collect()])


def test_write_meta_rows_overwrite_replaces(spark, tmp_path):
    """Overwrite semantics: a second write fully replaces the first
    (no stale part files), like mode('overwrite')."""
    p = f"{tmp_path}/meta"
    indexlog.write_meta_rows(spark, p, STATS_ROW, STATS_DDL)
    row2 = [(999, 1, 4, True, "std")]
    indexlog.write_meta_rows(spark, p, row2, STATS_DDL)
    got = indexlog.read_meta_rows(spark, p)
    assert len(got) == 1 and got[0]["n_docs"] == 999


def test_partition_append_matches_partitionby(spark, tmp_path):
    """The partition-append form lays out <dir>/batch=<id>/ exactly as
    partitionBy does: same directory shape, partition column derived
    from the dirname by BOTH readers, partition column absent from the
    file payload."""
    fast = f"{tmp_path}/fast_log"
    slow = f"{tmp_path}/slow_log"
    for b, n in (("base", 10), ("auto000001", 7)):
        indexlog.write_meta_rows(
            spark, fast, [(1, n)], "committed long, n_docs long",
            partition=("batch", b))
        (one_slice_df(spark, [(1, n, b)],
                      "committed long, n_docs long, batch string")
           .write.mode("append").partitionBy("batch").parquet(slow))
    df_fast = spark.read.parquet(fast)
    df_slow = spark.read.parquet(slow)
    assert df_fast.schema == df_slow.schema
    key = lambda r: r["batch"]  # noqa: E731
    assert (sorted([tuple(r) for r in df_fast.collect()])
            == sorted([tuple(r) for r in df_slow.collect()]))
    # the driver-side reader sees both layouts identically
    ra = sorted(indexlog.read_meta_rows(spark, fast), key=key)
    rb = sorted(indexlog.read_meta_rows(spark, slow), key=key)
    assert ra == rb
    # partition column lives in the dirname, not the file
    import pyarrow.parquet as pq
    files = [os.path.join(d, f)
             for d, _, fs in os.walk(fast) for f in fs
             if f.endswith(".parquet")]
    assert files and all(
        "batch" not in pq.read_table(f).column_names for f in files)


def test_read_meta_rows_on_spark_written_log(spark, tmp_path):
    """read_meta_rows over a log the Spark writer wrote equals the
    spark.read view — the case an index written by an older engine
    hits."""
    lp = f"{tmp_path}/idx/batches"
    for b, n in (("base", 3), ("day1", 4)):
        (one_slice_df(spark, [(1, n, b)],
                      "committed long, n_docs long, batch string")
           .write.mode("append").partitionBy("batch").parquet(lp))
    via_pa = sorted(indexlog.read_meta_rows(spark, lp),
                    key=lambda r: r["batch"])
    via_spark = sorted(
        (r.asDict() for r in spark.read.parquet(lp).collect()),
        key=lambda r: r["batch"])
    assert via_pa == via_spark


def test_read_meta_rows_merges_missing_columns(spark, tmp_path):
    """Files lacking a column read as None for it (the mergeSchema
    tolerance resolve_timestamp relies on for pre-commit-time logs)."""
    lp = f"{tmp_path}/log"
    indexlog.write_meta_rows(spark, lp, [(1,)], "committed long",
                             partition=("batch", "old"))
    indexlog.write_meta_rows(
        spark, lp, [(1, 123456789)], "committed long, committed_at_ms long",
        partition=("batch", "new"))
    rows = {r["batch"]: r for r in indexlog.read_meta_rows(spark, lp)}
    assert rows["old"]["committed_at_ms"] is None
    assert rows["new"]["committed_at_ms"] == 123456789


def test_write_meta_rows_rejects_unmappable_rows(spark, tmp_path):
    """An unmappable DDL type or a row that does not fit the schema
    raises ValueError and writes nothing — no target dir, no temp
    sibling, no partition dir."""
    target = f"{tmp_path}/never_written"
    with pytest.raises(ValueError, match="timestamp"):
        indexlog.write_meta_rows(spark, target, [(None,)], "v timestamp")
    with pytest.raises(ValueError, match="do not fit"):
        indexlog.write_meta_rows(spark, target, [("x",)], "v long")
    with pytest.raises(ValueError, match="do not fit"):
        indexlog.write_meta_rows(spark, target, [(1,)], "v long, w long",
                                 partition=("batch", "b1"))
    assert os.listdir(tmp_path) == []


def test_read_meta_rows_missing_dir_raises(spark, tmp_path):
    """A missing or data-free dir raises (the spark.read analysis-error
    parity existing try/except call sites depend on)."""
    with pytest.raises(FileNotFoundError):
        indexlog.read_meta_rows(spark, f"{tmp_path}/nope")
    os.makedirs(f"{tmp_path}/empty")
    with pytest.raises(FileNotFoundError):
        indexlog.read_meta_rows(spark, f"{tmp_path}/empty")


def test_log_batch_preserves_log_contract(spark, tmp_path):
    """log_batch → committed_batches / log_snapshot / resolve_timestamp
    through the driver-side writer: ids visible, totals summed, commit
    times readable."""
    path = f"{tmp_path}/idx"
    indexlog.log_batch(spark, path, "base", n_docs=5, total_tokens=100)
    indexlog.log_batch(spark, path, "auto000001", n_docs=2,
                       total_tokens=40)
    ids, totals = indexlog.log_snapshot(spark, path, "n_docs",
                                        "total_tokens")
    assert ids == {"base", "auto000001"}
    assert totals == {"n_docs": 7, "total_tokens": 140}
    assert indexlog.committed_batches(spark, path) == ids
    # time-travel sees the commit times the writer stamped
    view = indexlog.resolve_timestamp(
        spark, path, "2100-01-01T00:00:00+00:00")
    assert view == ids
    # a hidden temp file never counts as data
    lp = indexlog._log_path(path)
    assert not any(f.startswith(".") and f.endswith(".tmp")
                   for d, _, fs in os.walk(lp) for f in fs)


# ---------------------------------------------------------------------------
# Index lifecycle on HadoopFilesystem (the hdfs/s3a-shaped path)
# ---------------------------------------------------------------------------

@pytest.fixture
def hadoop_fs(spark, monkeypatch):
    """Route every filesystem_for call to one HadoopFilesystem over
    file:/// — bare index paths then resolve exactly as they would
    under an HDFS default FS — and count the calls."""
    fs = HadoopFilesystem(spark, "file:///")
    calls = []

    def _for(spark, root):
        calls.append(root)
        return fs

    monkeypatch.setattr(filesystem, "filesystem_for", _for)
    yield calls
    assert calls, "the Hadoop filesystem was never used"


#: build, append, search, compact, rebalance, fsck, vacuum and sync —
#: existing tests, re-run unchanged with the Hadoop filesystem
LIFECYCLE_TESTS = [
    "test_pipeline::test_index_compact_crash_retry_and_guards",
    "test_pipeline::test_rebalance_ivf_readers_see_one_view",
    "test_pipeline::test_vacuum_cleans_expired_orphans_keeps_inflight",
    "test_round11::test_index_fsck_classifies_states",
    "test_round12::test_drift_baseline_rides_compact_and_sync",
    "test_pq::test_pq_index_append_equals_rebuild_and_replay",
]


@pytest.mark.parametrize("name", LIFECYCLE_TESTS)
def test_index_lifecycle_on_hadoop_filesystem(name, hadoop_fs, spark,
                                              tmp_path, capsys):
    module, func = name.split("::")
    test = getattr(importlib.import_module(f"tests.{module}"), func)
    given = {"spark": spark, "tmp_path": tmp_path, "capsys": capsys}
    test(**{p: given[p] for p in inspect.signature(test).parameters})


# ---------------------------------------------------------------------------
# One filesystem layer
# ---------------------------------------------------------------------------

def test_no_raw_hadoop_fs_calls_outside_the_filesystem_layer():
    """org.apache.hadoop.fs is touched only by filesystem.py and by
    indexsync._copy_tree's cross-filesystem bulk copy; any new site
    must go through FilesystemInterface instead."""
    pkg = Path(__file__).resolve().parents[1] / "dsgrid_spark"
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        if "hadoop.fs" not in src:
            continue
        funcs = [n for n in ast.walk(ast.parse(src))
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for lineno, line in enumerate(src.splitlines(), 1):
            if "hadoop.fs" in line:
                owner = min((f for f in funcs
                             if f.lineno <= lineno <= f.end_lineno),
                            key=lambda f: f.end_lineno - f.lineno,
                            default=None)
                sites.add((path.relative_to(pkg).as_posix(),
                           owner.name if owner else None))
    outside = {s for s in sites if s[0] != "filesystem.py"}
    assert outside == {("pipeline/indexsync.py", "_copy_tree")}
