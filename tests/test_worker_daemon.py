"""The worker daemon's per-task fixed costs, checked without Spark.

``crocus_spark.worker_daemon`` must leave forked workers with (1) zip
importers that re-read an archive's directory on
``importlib.invalidate_caches()`` only when the archive changed, and
(2) the preloaded heap frozen out of the per-task ``gc.collect()``.
The checks run in a fresh interpreter, because importing the daemon
module patches ``zipimport`` and freezes the heap process-wide.
"""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import REPO

_SCRIPT = r"""
import gc, importlib, json, os, sys, zipfile, zipimport

repo, tmp = sys.argv[1], sys.argv[2]
arc, arc2 = os.path.join(tmp, "z.zip"), os.path.join(tmp, "z2.zip")


def write(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "")


write(arc, ["zpkg/__init__.py", "zpkg/sub/__init__.py", "zpkg/sub/a.py"])
sys.path[:0] = [arc, repo]
import crocus_spark.worker_daemon  # noqa: F401
import zpkg.sub.a  # noqa: F401

reads = []
read_directory = zipimport._read_directory


def counting(archive):
    reads.append(archive)
    return read_directory(archive)


zipimport._read_directory = counting
importers = [
    f for f in sys.path_importer_cache.values()
    if isinstance(f, zipimport.zipimporter) and f.archive == arc
]
for _ in range(20):
    importlib.invalidate_caches()
unchanged = len(reads)

write(arc, ["zpkg/__init__.py", "zpkg/sub/__init__.py", "zpkg/sub/a.py",
            "zpkg/sub/b.py"])
importlib.invalidate_caches()
changed = reads.count(arc)
import zpkg.sub.b  # noqa: F401

write(arc2, ["zpkg2.py"])
sys.path.append(arc2)
importlib.invalidate_caches()
import zpkg2  # noqa: F401

print(json.dumps({
    "importers": len(importers),
    "unchanged_reads": unchanged,
    "changed_reads": changed,
    "frozen": gc.get_freeze_count(),
}))
"""


def test_worker_daemon_skips_unchanged_zips_and_freezes_heap(tmp_path):
    """20 invalidations of unchanged archives read no zip directory (the
    stock importers read 20 x one per importer); a rewritten archive is
    read again and every importer over it, the subpackage's own too,
    sees the added module; a newly added archive imports; and the
    preloaded heap sits in the permanent generation."""
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO), str(tmp_path)],
        capture_output=True, text=True, check=True, timeout=300,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    # the root, zpkg and zpkg.sub importers over the one archive
    assert got["importers"] >= 3, got
    assert got["unchanged_reads"] == 0, got
    assert got["changed_reads"] >= 1, got
    assert got["frozen"] > 0, got
