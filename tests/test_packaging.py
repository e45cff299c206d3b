"""Packaging surface (VERDICT r12 #3): the engine ships as an installable
versioned wheel, mirroring the reference's release artifact
(reference ``pom.xml:27`` 1.1.0-SNAPSHOT, ``rocana-release.sh``,
install docs ``README.md:22-27``).

These tests pin the artifact itself — payload, metadata, reproducibility —
against the CURRENT pyproject version (not a literal), so a release cut by
``tools/release.py`` (which bumps pyproject + ``__version__`` in lockstep,
r14) keeps them green. The heavier end-to-end proof (pip-install to a temp
target, then run the SQL UDAF surface from the INSTALLED package in a
subprocess) lives in ``tools/verify_install.py`` and runs in the session
gate, not per-pytest.
"""

from __future__ import annotations

import os
import sys
import tomllib
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import build_wheel  # noqa: E402

with open(os.path.join(REPO, "pyproject.toml"), "rb") as _fh:
    VERSION = tomllib.load(_fh)["project"]["version"]
DIST_INFO = f"rocana_impala_udfs_spark-{VERSION}.dist-info"


@pytest.fixture(scope="module")
def wheel_path(tmp_path_factory):
    return build_wheel.build(str(tmp_path_factory.mktemp("dist")))


def test_wheel_name_carries_project_version(wheel_path):
    assert os.path.basename(wheel_path) == (
        f"rocana_impala_udfs_spark-{VERSION}-py3-none-any.whl"
    )


def test_package_version_in_lockstep_with_pyproject():
    """tools/release.py rewrites both; drift between them means a release
    was cut by hand around the tool."""
    import rocana_impala_udfs_spark as pkg

    assert pkg.__version__ == VERSION


def test_wheel_payload_complete(wheel_path):
    with zipfile.ZipFile(wheel_path) as zf:
        names = set(zf.namelist())
    # the registration surface, the JVM UDAF jar (package data), the
    # vendored protobuf runtime, and the dist-info triplet must all ship
    for required in [
        "rocana_impala_udfs_spark/__init__.py",
        "rocana_impala_udfs_spark/register.py",
        "rocana_impala_udfs_spark/jvm/rocana-udaf.jar",
        "rocana_impala_udfs_spark/jvm/src/rocana/spark/udaf/AppxMedianBounded.java",
        "rocana_impala_udfs_spark/vendor/pbshim/google/protobuf/_runtime.py",
        f"{DIST_INFO}/METADATA",
        f"{DIST_INFO}/WHEEL",
        f"{DIST_INFO}/RECORD",
    ]:
        assert required in names, f"missing from wheel: {required}"
    assert not any("__pycache__" in n for n in names)
    # tests/tools/benchmarks are repo surfaces, never wheel payload
    assert not any(n.startswith(("tests/", "tools/", "bench")) for n in names)


def test_wheel_record_hashes_verify(wheel_path):
    """pip verifies RECORD sha256 at install time; verify the same way so
    a broken builder fails here instead of at install."""
    with zipfile.ZipFile(wheel_path) as zf:
        record = zf.read(f"{DIST_INFO}/RECORD").decode()
        for line in record.strip().splitlines():
            name, digest, size = line.rsplit(",", 2)
            if not digest:  # the RECORD row itself
                continue
            data = zf.read(name)
            assert build_wheel._record_hash(data) == digest, name
            assert str(len(data)) == size, name


def test_wheel_build_is_reproducible(wheel_path, tmp_path):
    again = build_wheel.build(str(tmp_path))
    with open(wheel_path, "rb") as a, open(again, "rb") as b:
        assert a.read() == b.read(), "wheel build is not byte-reproducible"


def test_metadata_fields(wheel_path):
    with zipfile.ZipFile(wheel_path) as zf:
        meta = zf.read(f"{DIST_INFO}/METADATA").decode()
    assert "Name: rocana-impala-udfs-spark" in meta
    assert f"Version: {VERSION}" in meta
    assert "Requires-Dist: pyspark>=4.0" in meta
    assert "Requires-Python: >=3.10" in meta


def test_release_tool_dry_run(tmp_path):
    """The release cut itself (version validation + step plan) must not
    crash — the real cut runs in the session gate, this pins the CLI."""
    import subprocess

    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "release.py"),
         "9.9.9", "9.9.10.dev0", "--dry-run"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr
    assert "set version -> 9.9.9" in r.stdout
    assert "git tag release-9.9.9" in r.stdout
    # dry-run must leave the tree untouched
    with open(os.path.join(REPO, "pyproject.toml"), "rb") as fh:
        assert tomllib.load(fh)["project"]["version"] == VERSION

    # a dry run runs no git command, so it works outside a git work tree
    # (e.g. a `git archive` copy): GIT_DIR at a missing directory makes
    # every git call exit 128
    r_nogit = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "release.py"),
         "9.9.9", "9.9.10.dev0", "--dry-run"],
        capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "GIT_DIR": str(tmp_path / "no-such-git-dir")},
    )
    assert r_nogit.returncode == 0, r_nogit.stderr
    assert r_nogit.stdout == r.stdout

    r2 = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "release.py"),
         "not-a-version", "2.0.0", "--dry-run"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r2.returncode != 0
