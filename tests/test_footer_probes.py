"""Footer-probe unit tests (r16, r15 verdict "Next round" #3).

The data-adaptive plans (chunked window levers, wide-row levers) pick
their physical strategy from parquet footer statistics read driver-side.
r15 shipped the probes on os.listdir — local-FS only, so an object-store
run silently fell back to the bounded plan even on dense keys. The r16
port goes through ``pyarrow.fs.FileSystem.from_uri``; these tests pin
that the probe answers are IDENTICAL through a bare local path and a
``file://`` URI resolved by pyarrow.fs (the same code path an ``s3://``
or ``gs://`` URI takes — scheme dispatch is pyarrow's), and that every
unexpected shape stays fail-safe None (callers take the bounded plan —
the safe direction, plans/queries.py gap_sessionization et al.).
Through ``CountingHandler``, a counting local filesystem, they also
bound the metadata calls and reads one probe issues.
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyarrow import fs as pafs

from amsterdam_map_data_wrangling_spark.sources.fs import (
    parquet_col_max,
    parquet_col_null_frac,
)


@pytest.fixture(scope="module")
def parquet_dir(tmp_path_factory):
    """Directory-of-files layout (Spark's output shape): two files, an
    int column with known max (907) and a known NULL fraction (4/10)."""
    d = tmp_path_factory.mktemp("probe_dir")
    t1 = pa.table({"k": pa.array([1, None, 5, 907], type=pa.int64())})
    t2 = pa.table(
        {"k": pa.array([None, 2, None, 3, None, 44], type=pa.int64())}
    )
    pq.write_table(t1, d / "part-0.parquet")
    pq.write_table(t2, d / "part-1.parquet")
    (d / "_SUCCESS").write_text("")  # non-parquet sidecar must be skipped
    return d


def test_probes_on_bare_local_path(parquet_dir):
    assert parquet_col_max(str(parquet_dir), "k") == 907
    assert parquet_col_null_frac(str(parquet_dir), "k") == pytest.approx(0.4)


def test_probes_on_file_uri_through_pyarrow_fs(parquet_dir):
    """The object-store code path: a URI dispatched by
    pyarrow.fs.FileSystem.from_uri must answer identically to the bare
    path (file:// locally; s3://, gs://, hdfs:// in production resolve
    through the exact same branch)."""
    uri = parquet_dir.as_uri()  # file:///...
    assert "://" in uri
    assert parquet_col_max(uri, "k") == parquet_col_max(str(parquet_dir), "k")
    assert parquet_col_null_frac(uri, "k") == pytest.approx(
        parquet_col_null_frac(str(parquet_dir), "k")
    )


def test_probes_on_single_file(parquet_dir):
    f = str(parquet_dir / "part-1.parquet")
    assert parquet_col_max(f, "k") == 44
    assert parquet_col_null_frac(f, "k") == pytest.approx(0.5)
    uri = (parquet_dir / "part-1.parquet").as_uri()
    assert parquet_col_max(uri, "k") == 44


def test_probes_fail_safe_none(parquet_dir, tmp_path):
    # missing column → None (never a guess)
    assert parquet_col_max(str(parquet_dir), "nope") is None
    assert parquet_col_null_frac(str(parquet_dir), "nope") is None
    # nonexistent path, both addressing modes → None
    assert parquet_col_max(str(tmp_path / "ghost"), "k") is None
    assert parquet_col_max((tmp_path / "ghost").as_uri(), "k") is None
    # directory with no parquet files → None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert parquet_col_null_frac(str(empty), "k") is None
    # unknown scheme → None (fail-safe, not an exception)
    assert parquet_col_max("notascheme://bucket/x.parquet", "k") is None


def test_plans_reexport_is_the_ported_probe():
    """plans/text.py re-exports the probes under their historical names;
    every adaptive plan imports from there — pin that the re-export IS
    the pyarrow.fs implementation (no stale copy can drift)."""
    from amsterdam_map_data_wrangling_spark.plans.text import (
        _parquet_col_max,
        _parquet_col_null_frac,
    )

    assert _parquet_col_max is parquet_col_max
    assert _parquet_col_null_frac is parquet_col_null_frac


def test_probe_file_count_budget_fails_safe(tmp_path):
    """O(bounded), not O(n_files): past PROBE_MAX_FILES the probe
    answers None (adaptive callers take their robust plan) instead of
    issuing one footer read per file — the r16 many-small-files axis
    measured 17k files for 17 MB, where an exact probe would cost more
    than the plan choice saves."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    d = tmp_path / "many"
    d.mkdir()
    t = pa.table({"k": pa.array([1, 2], type=pa.int64())})
    for i in range(fsmod.PROBE_MAX_FILES + 1):
        pq.write_table(t, d / f"part-{i:05d}.parquet")
    assert parquet_col_max(str(d), "k") is None
    assert parquet_col_null_frac(str(d), "k") is None
    # exactly at the budget the probe still answers exactly
    (d / f"part-{fsmod.PROBE_MAX_FILES:05d}.parquet").unlink()
    assert parquet_col_max(str(d), "k") == 2
    assert parquet_col_null_frac(str(d), "k") == 0.0


class _CountingReadFile:
    """Local file whose every read() counts as one billable call (one
    ranged GET on an object store); seek/tell are free."""

    def __init__(self, path: str, handler: "CountingHandler"):
        self._f = open(path, "rb")
        self._h = handler

    def read(self, n: int = -1) -> bytes:
        self._h.tick("read")
        return self._f.read(n)

    def seek(self, off: int, whence: int = 0) -> int:
        return self._f.seek(off, whence)

    def tell(self) -> int:
        return self._f.tell()

    def close(self) -> None:
        self._f.close()

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    @property
    def closed(self) -> bool:
        return self._f.closed


class CountingHandler(pafs.FileSystemHandler):
    """Read-only local filesystem that counts, by kind, every metadata
    call and every post-open read() a probe makes through it."""

    def __init__(self):
        self.calls: dict[str, int] = {}
        self._fs = pafs.LocalFileSystem()
        self._lock = threading.Lock()  # the probe's fan-out pool counts too

    def tick(self, kind: str):
        with self._lock:
            self.calls[kind] = self.calls.get(kind, 0) + 1

    @property
    def total_calls(self) -> int:
        return sum(self.calls.values())

    def get_type_name(self):
        return "counting"

    def __eq__(self, other):
        return self is other

    def __ne__(self, other):
        return self is not other

    def get_file_info(self, paths):
        self.tick("stat")
        return self._fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        self.tick("list")
        return self._fs.get_file_info(selector)

    def open_input_file(self, path):
        self.tick("open")
        return pa.PythonFile(_CountingReadFile(path, self), mode="r")

    def open_input_stream(self, path):
        self.tick("open")
        return pa.PythonFile(_CountingReadFile(path, self), mode="r")

    def normalize_path(self, path):
        return self._fs.normalize_path(path)

    def create_dir(self, path, recursive):
        raise NotImplementedError

    def delete_dir(self, path):
        raise NotImplementedError

    def delete_dir_contents(self, path, missing_dir_ok=False):
        raise NotImplementedError

    def delete_root_dir_contents(self):
        raise NotImplementedError

    def delete_file(self, path):
        raise NotImplementedError

    def move(self, src, dest):
        raise NotImplementedError

    def copy_file(self, src, dest):
        raise NotImplementedError

    def open_append_stream(self, path, metadata):
        raise NotImplementedError

    def open_output_stream(self, path, metadata):
        raise NotImplementedError


def test_probes_accept_explicit_filesystem_and_fan_out(parquet_dir):
    """r17 object-store latency axis: the probes take an explicit
    ``pyarrow.fs.FileSystem`` (the hook for credentialed stores and the
    latency-shaped wrapper), answers are identical to local dispatch,
    and footer reads fan out through a thread pool (PROBE_FANOUT) —
    order-preserving, so col_max/null_frac see every footer exactly
    once."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fs_mod

    handler = CountingHandler()
    wrapped = pafs.PyFileSystem(handler)
    assert (
        parquet_col_max(str(parquet_dir), "k", filesystem=wrapped) == 907
    )
    assert parquet_col_null_frac(
        str(parquet_dir), "k", filesystem=wrapped
    ) == pytest.approx(0.4)
    # The property under test — NOT pyarrow's internal I/O call pattern
    # (r17 ADVICE: the previous exact `calls == 8` pinned pyarrow's
    # open/prefetch behavior; an upgrade could change it with zero repo
    # regression): the probes issue a BOUNDED number of round trips,
    # metadata calls and reads alike (a small constant per file per
    # probe, never a data scan).
    calls_default = handler.total_calls
    assert 0 < calls_default <= 32

    # fan-out must not change answers OR the I/O issued, even at pool
    # size 1 (the serial degenerate) or wider than the file count —
    # the serial==fanned call-count identity is the relative property
    # the old exact count was standing in for
    old = fs_mod.PROBE_FANOUT
    try:
        for fanout in (1, 64):
            fs_mod.PROBE_FANOUT = fanout
            handler.calls.clear()
            assert (
                parquet_col_max(str(parquet_dir), "k", filesystem=wrapped)
                == 907
            )
            assert parquet_col_null_frac(
                str(parquet_dir), "k", filesystem=wrapped
            ) == pytest.approx(0.4)
            assert handler.total_calls == calls_default
    finally:
        fs_mod.PROBE_FANOUT = old


def test_healthy_many_file_layout_probes_exactly(tmp_path):
    """The r17 sf10-soak finding, pinned: a ~100-file table is a
    HEALTHY partitioned layout at scale (the 100x events table), not a
    degenerate one — the probe must answer exactly there, because a
    None sends every adaptive window lever to its chunked fail-safe on
    a corpus whose dense keys want the naive plan (measured 2.6x on
    session_window_per_user before PROBE_MAX_FILES rose to 256). If a
    future change drops the budget below ~real-table file counts, this
    goes red without needing a 100x soak to notice."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    assert fsmod.PROBE_MAX_FILES >= 128, (
        "budget below healthy big-table file counts — the sf10 regression"
    )
    d = tmp_path / "healthy_events"
    d.mkdir()
    t = pa.table({"user_id": pa.array([1, 2, 3], type=pa.int64())})
    for i in range(100):
        pq.write_table(t, d / f"part-{i:05d}.parquet")
    # dense keys → exact 0.0, never None: the naive-plan signal
    assert parquet_col_null_frac(str(d), "user_id") == 0.0
    assert parquet_col_max(str(d), "user_id") == 3


def test_scheme_dispatch_is_shared_and_maps_hadoop_schemes(tmp_path):
    """r17 review finding: the compaction audit mapped s3a://→s3:// but
    the probes did not, so every probe on an s3a:// table silently
    answered None (the chunked-fail-safe toll, permanently, on object
    stores). Scheme dispatch now lives in ONE place — pin the mapping,
    the Hadoop single-slash file:/ form, and that probes resolve
    through it."""
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        hadoop_to_pyarrow_uri,
        pyarrow_fs_for,
    )

    assert hadoop_to_pyarrow_uri("s3a://b/k/t.parquet") == "s3://b/k/t.parquet"
    assert hadoop_to_pyarrow_uri("s3n://b/k") == "s3://b/k"
    assert hadoop_to_pyarrow_uri("gs://b/k") == "gs://b/k"
    assert hadoop_to_pyarrow_uri("/bare/path") == "/bare/path"

    d = tmp_path / "one"
    d.mkdir()
    t = pa.table({"k": pa.array([7, None], type=pa.int64())})
    pq.write_table(t, d / "part-0.parquet")
    # Hadoop's Path.toString local form: file:/x (single slash)
    fs1, p1 = pyarrow_fs_for(f"file:{d}")
    fs2, p2 = pyarrow_fs_for(str(d))
    assert p1 == p2 == str(d)
    # and the probe itself answers through the file:/ form
    assert parquet_col_max(f"file:{d}", "k") == 7
    assert parquet_col_null_frac(f"file:{d}", "k") == pytest.approx(0.5)
    # triple-slash empty-authority form normalizes too
    _fs3, p3 = pyarrow_fs_for(f"file://{d}")
    assert p3 == str(d)


def test_file_uri_with_remote_authority_fails_safe(tmp_path):
    """r17 ADVICE: ``file://host/share/x`` (non-empty authority — a
    remote-host file reference) used to collapse into the LOCAL path
    ``/host/share/x`` and silently probe the wrong file. It must raise
    (pyarrow_fs_for) and therefore answer None through the probes'
    fail-safe — the bounded plan, never a wrong answer."""
    import pytest as _pytest

    from amsterdam_map_data_wrangling_spark.sources.fs import pyarrow_fs_for

    with _pytest.raises(ValueError, match="authority"):
        pyarrow_fs_for("file://somehost/share/data")
    assert parquet_col_max("file://somehost/share/data", "k") is None
    assert parquet_col_null_frac("file://somehost/share/data", "k") is None


def test_azure_schemes_resolve_or_are_documented():
    """r17 ADVICE follow-through, verified empirically: pyarrow 16.1's
    ``FileSystem.from_uri`` dispatches ``abfs://``/``abfss://`` to
    AzureFileSystem NATIVELY (no rewrite needed — construction-only,
    no credentials touched), so probes on ADLS tables resolve instead
    of silently answering None. The legacy blob-endpoint schemes
    (wasb/wasbs) stay unmapped by design — documented in
    hadoop_to_pyarrow_uri's docstring, and their probes fail safe."""
    from amsterdam_map_data_wrangling_spark.sources.fs import (
        hadoop_to_pyarrow_uri,
        pyarrow_fs_for,
    )

    for scheme in ("abfs", "abfss"):
        uri = f"{scheme}://cont@acct.dfs.core.windows.net/t"
        assert hadoop_to_pyarrow_uri(uri) == uri  # pass-through
        try:
            filesystem, p = pyarrow_fs_for(uri)
        except Exception as exc:  # pragma: no cover - pyarrow built w/o azure
            pytest.skip(f"pyarrow lacks Azure support here: {exc}")
        assert type(filesystem).__name__ == "AzureFileSystem"
        assert p == "cont/t"
    # wasb has no pyarrow twin: probes answer None via the fail-safe
    assert parquet_col_max("wasb://c@a.blob.core.windows.net/t", "k") is None


def test_probe_true_get_accounting_is_bounded(tmp_path):
    """r18 catalog-latency axis: with post-open reads intercepted (the
    GETs a store actually bills), each footer probe costs a BOUNDED
    number of billable calls — measured 2/footer (1 open + 1 tail read)
    + 2 fixed (stat + selector) — and the fan-out pool does not change
    the count. Asserted as a bound (<= 4/footer + 4 fixed), not
    pyarrow's exact internal pattern (r17 ADVICE). The budget wall this
    implies at 50 ms/GET is why PROBE_FANOUT is 32: 256 files x 2 GETs
    / 32-wide ~= 1.0 s, under the ~2 s smallest plan delta; 16-wide
    measured 1.74 s — only ~13% headroom
    (scripts/archive/catalog_latency_r18.json)."""
    from amsterdam_map_data_wrangling_spark.sources import fs as fsmod

    d = tmp_path / "acct"
    d.mkdir()
    n = 8
    t = pa.table({"k": pa.array([1, 2, None], type=pa.int64())})
    for i in range(n):
        pq.write_table(t, d / f"part-{i:05d}.parquet")

    for fanout in (1, fsmod.PROBE_FANOUT):
        handler = CountingHandler()
        wrapped = pafs.PyFileSystem(handler)
        old = fsmod.PROBE_FANOUT
        fsmod.PROBE_FANOUT = fanout
        try:
            assert (
                parquet_col_null_frac(str(d), "k", filesystem=wrapped)
                == pytest.approx(1 / 3)
            )
        finally:
            fsmod.PROBE_FANOUT = old
        assert handler.total_calls <= 4 * n + 4, handler.calls
        # reads ARE intercepted (walls under this handler are true
        # per-GET accounting, not the r17 lower bound)
        assert handler.calls.get("read", 0) >= n
