"""Pins for the verification tooling itself (ADVICE r14 resolutions).

A bug in the gate tooling silently weakens every correctness claim, so
the two r15 tool fixes get their own regression tests: the
directory-shaped-table guard in the oracle harness and the amplified-copy
cache's format-version invalidation.
"""

from __future__ import annotations

import os

import pytest


def test_table_src_file_dir_and_empty_dir(tmp_path):
    """Plain file passes through; a Spark-written directory globs its part
    files; a directory holding only _SUCCESS (empty/failed write) fails
    FAST with a message naming the path — never an opaque DuckDB IO error
    later at query time (ADVICE r14)."""
    from tools.check_correctness import _table_src

    f = tmp_path / "t.parquet"
    f.write_bytes(b"")
    assert _table_src(str(f)) == str(f)

    d = tmp_path / "dir.parquet"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="no \\*.parquet part"):
        _table_src(str(d))

    (d / "part-00000.parquet").write_bytes(b"")
    assert _table_src(str(d)) == f"{d}/*.parquet"


def test_ensure_amplified_tag_carries_format_version(tmp_path, monkeypatch):
    """The amplified-copy cache path must embed _AMPLIFY_FORMAT: an
    amplifier change bumps the version and every stale cached copy is
    bypassed instead of silently served (the r15 whitespace-split fix
    would otherwise have benchmarked f1-format fixtures forever)."""
    import tools.amplify_testdata as amp

    src = tmp_path / "sf"
    src.mkdir()
    (src / "orders.parquet").write_bytes(b"x")

    captured = {}

    def fake_amplify_dir(spark, sf_dir, k, dst, hot_fraction=0.0, corpus=False):
        captured["dst"] = dst
        return dst

    monkeypatch.setattr(amp, "amplify_dir", fake_amplify_dir)
    out = amp.ensure_amplified(None, str(src), 8, corpus=True)
    assert out == captured["dst"]
    base = os.path.basename(out)
    assert f"_{amp._AMPLIFY_FORMAT}_" in base, base
    assert base.endswith("_x8")
    assert "_corpus_" in base


def test_reap_stale_amplified_removes_old_formats_keeps_live_variants(tmp_path):
    """ADVICE r15: a format bump (or testdata regeneration) must REMOVE
    the old cached amplified trees, not just stop serving them —
    repeated bumps otherwise accumulate multi-GB stale fixtures in the
    tempdir forever.  Variants of the CURRENT identity (other k / hot /
    corpus) coexist and survive; a stale identity that is a string
    prefix of the live one is still reaped (the trailing-underscore
    guard)."""
    import tempfile

    import tools.amplify_testdata as amp

    base = f"sfreap{os.getpid()}"
    src = tmp_path / base
    src.mkdir()
    tmp = tempfile.gettempdir()
    fmt = amp._AMPLIFY_FORMAT
    live = [
        f"sqe_amplified_{base}_100_200_{fmt}_x8",
        f"sqe_amplified_{base}_100_200_{fmt}_corpus_x8",
        f"sqe_amplified_{base}_100_200_{fmt}_hot30_x32",
    ]
    stale = [
        f"sqe_amplified_{base}_100_200_f0_x8",      # old format tag
        f"sqe_amplified_{base}_99_200_{fmt}_x8",    # old source identity
        f"sqe_amplified_{base}_100_20_{fmt}_x8",    # mtime a string-prefix of live
    ]
    try:
        for name in live + stale:
            os.makedirs(os.path.join(tmp, name), exist_ok=True)
        amp._reap_stale_amplified(str(src), 100, 200)
        for name in live:
            assert os.path.isdir(os.path.join(tmp, name)), name
        for name in stale:
            assert not os.path.exists(os.path.join(tmp, name)), name
    finally:
        import shutil

        for name in live + stale:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


def test_scratch_ttl_env_malformed_falls_back(tmp_path):
    """ADVICE r15: a malformed SQE_SCRATCH_TTL_SEC must fall back to the
    24h default instead of crashing module import."""
    import subprocess
    import sys

    env = dict(os.environ, SQE_SCRATCH_TTL_SEC="not-a-number")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from simple_query_engine_spark.operators.storage import "
            "_SCRATCH_TTL_SEC; print(_SCRATCH_TTL_SEC)",
        ],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == str(24 * 3600)


def test_traced_functions_still_resolve():
    """Every engine function the benchmark's traced runs wrap by name
    (``perfbench/tracing.FUNCTIONS``) must still exist: a rename or a
    deletion would otherwise break every ``--trace 1`` run."""
    import importlib

    from perfbench.tracing import FUNCTIONS

    missing = [
        (module, attr)
        for module, attr in FUNCTIONS
        if not callable(getattr(importlib.import_module(module), attr, None))
    ]
    assert missing == []
