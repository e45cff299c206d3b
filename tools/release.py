#!/usr/bin/env python
"""One-command release cut — the PySpark engine's equivalent of the
reference's ``rocana-release.sh`` (reference repo root), step for step:

  reference (maven)                          this repo
  -----------------------------------       -----------------------------------
  requires RELEASE + DEVELOPMENT versions    argv[1] = release, argv[2] = next dev
  (rocana-release.sh:7-10)                   (both validated PEP-440-ish)
  versions:set -DnewVersion=RELEASE          rewrite pyproject.toml [project].version
  (rocana-release.sh:26-30)                  and rocana_impala_udfs_spark.__version__
  scm:checkin "Preparing for release X"      git commit  (same message shape)
  (rocana-release.sh:33-39)
  clean deploy  (build + publish the jar)    build the wheel (tools/build_wheel.py)
  (rocana-release.sh:42-45)                  into dist/ and PROVE it installs
                                             (tools/verify_install.py) — the
                                             sandbox has no artifact repo, so
                                             "publish" = a verified local artifact
  scm:tag release-X                          git tag release-X
  (rocana-release.sh:48-51)
  versions:set NEXT-DEV + checkin            rewrite versions to NEXT_DEV,
  (rocana-release.sh:54-69)                  git commit "Preparing for Y development"

Additions over the reference flow: a CHANGELOG.md entry per release
(prepended, Keep-a-Changelog shape) and a hard refusal to run on a dirty
working tree — maven's scm plugin tolerates one; surprise file pickup in a
release commit is worse than an error.

Usage:
  python tools/release.py RELEASE_VERSION NEXT_DEV_VERSION [--dry-run]
  python tools/release.py 1.1.1 1.1.2.dev0

``--dry-run`` prints every step and rewrites nothing; it runs no git
command, so it also works outside a git work tree.
"""

from __future__ import annotations

import datetime
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYPROJECT = os.path.join(REPO, "pyproject.toml")
PKG_INIT = os.path.join(REPO, "rocana_impala_udfs_spark", "__init__.py")
CHANGELOG = os.path.join(REPO, "CHANGELOG.md")

# Accept release versions like 1.1.1 and dev versions like 1.1.2.dev0 /
# 1.2.0rc1 — the PEP 440 subset this project uses.
_VERSION_RE = re.compile(r"^\d+\.\d+\.\d+((\.dev|rc|a|b)\d+)?$")


def _run(cmd: list[str], dry: bool) -> None:
    print(("DRY-RUN: " if dry else "+ ") + " ".join(cmd))
    if not dry:
        subprocess.run(cmd, cwd=REPO, check=True)


def _set_version(version: str, dry: bool) -> None:
    """Rewrite the single source-of-truth version fields: pyproject's
    [project].version and the package __version__ (kept in lockstep —
    tests/test_packaging.py asserts they agree)."""
    with open(PYPROJECT) as fh:
        py = fh.read()
    py2, n = re.subn(
        r'(?m)^version = "[^"]+"$', f'version = "{version}"', py, count=1
    )
    if n != 1:
        raise SystemExit("pyproject.toml: exactly one version line expected")
    with open(PKG_INIT) as fh:
        init = fh.read()
    init2, n = re.subn(
        r'(?m)^__version__ = "[^"]+"$', f'__version__ = "{version}"', init, count=1
    )
    if n != 1:
        raise SystemExit("__init__.py: exactly one __version__ line expected")
    print(f"{'DRY-RUN: ' if dry else ''}set version -> {version}")
    if not dry:
        with open(PYPROJECT, "w") as fh:
            fh.write(py2)
        with open(PKG_INIT, "w") as fh:
            fh.write(init2)


def _changelog_entry(version: str, dry: bool) -> None:
    """Prepend this release's section, seeded from the git subjects since
    the previous release-* tag (the human edits before shipping notes;
    the tool guarantees the section exists and is dated)."""
    today = datetime.date.today().isoformat()
    if dry:
        print(f"DRY-RUN: changelog: add section {version} ({today})")
        return
    try:
        last_tag = subprocess.run(
            ["git", "describe", "--tags", "--abbrev=0", "--match", "release-*"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
        rng = f"{last_tag}..HEAD"
    except subprocess.CalledProcessError:
        rng = "HEAD"
    subjects = subprocess.run(
        ["git", "log", "--format=- %s", rng], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip() or "- (no changes recorded)"
    section = f"## {version} — {today}\n\n{subjects}\n\n"
    header = "# Changelog\n\n"
    existing = ""
    if os.path.isfile(CHANGELOG):
        with open(CHANGELOG) as fh:
            existing = fh.read()
        if existing.startswith(header):
            existing = existing[len(header):]
    print(f"changelog: add section {version} ({today})")
    with open(CHANGELOG, "w") as fh:
        fh.write(header + section + existing)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--dry-run"]
    dry = "--dry-run" in sys.argv[1:]
    if len(args) != 2:
        print(__doc__)
        return 2
    release, nextdev = args
    for v in (release, nextdev):
        if not _VERSION_RE.match(v):
            raise SystemExit(f"invalid version {v!r} (want e.g. 1.1.1 / 1.1.2.dev0)")

    if not dry:
        dirty = subprocess.run(
            ["git", "status", "--porcelain"], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        if dirty:
            raise SystemExit(
                "working tree not clean — commit or stash first:\n" + dirty
            )

    # 1. release version + changelog, committed (rocana-release.sh:26-39)
    _set_version(release, dry)
    _changelog_entry(release, dry)
    _run(["git", "add", "pyproject.toml", PKG_INIT, "CHANGELOG.md"], dry)
    _run(["git", "commit", "-m", f"Preparing for release {release}"], dry)

    # 2. build + verify the artifact (rocana-release.sh:42-45 "deploy")
    _run([sys.executable, os.path.join(REPO, "tools", "build_wheel.py")], dry)
    _run([sys.executable, os.path.join(REPO, "tools", "verify_install.py")], dry)

    # 3. tag (rocana-release.sh:48-51)
    _run(["git", "tag", f"release-{release}"], dry)

    # 4. next development version, committed (rocana-release.sh:54-69)
    _set_version(nextdev, dry)
    _run(["git", "add", "pyproject.toml", PKG_INIT], dry)
    _run(["git", "commit", "-m", f"Preparing for {nextdev} development"], dry)

    print(f"released {release}; now at {nextdev} (tag release-{release})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
