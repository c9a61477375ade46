"""The build-once capstone memo: content-aware fingerprints (testdata
rewritten at IDENTICAL row counts must miss the memo), one build per
process, and no build artefact — capstone dir or shipped package zip —
left in the temp dir once the process exits."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
    _capstone_cache,
    _sf_print,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_docs(path, texts):
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
            }
        ),
        path,
    )


def test_sf_print_misses_on_content_change_at_equal_rowcount(tmp_path):
    sf_a = tmp_path / "a"
    sf_b = tmp_path / "b"
    sf_a.mkdir()
    sf_b.mkdir()
    _write_docs(str(sf_a / "documents.parquet"), ["alpha", "beta", "gamma"])
    # same row COUNT, same schema, different content
    _write_docs(str(sf_b / "documents.parquet"), ["alpha", "beta", "DELTA!"])
    pa_ = _sf_print(None, str(sf_a), "documents")
    pb_ = _sf_print(None, str(sf_b), "documents")
    assert pa_ != pb_
    # and identical content at the same path fingerprints identically
    assert pa_ == _sf_print(None, str(sf_a), "documents")


def test_cache_builds_once_then_serves(tmp_path):
    calls = []

    def build(work):
        calls.append(work)
        with open(os.path.join(work, "artifact"), "w") as f:
            f.write("built")

    fp = f"{tmp_path}:unit-test-build-once"
    p1 = _capstone_cache("unit_once", fp, build)
    p2 = _capstone_cache("unit_once", fp, build)
    assert p1 == p2
    assert len(calls) == 1
    with open(os.path.join(p1, "artifact")) as f:
        assert f.read() == "built"


# Builds one capstone twice in a fresh interpreter; prints the build count.
_BUILD_IN_FRESH_PROCESS = """
import os
from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
    _capstone_cache,
)
builds = []
def build(work):
    builds.append(work)
    with open(os.path.join(work, "artifact"), "w") as f:
        f.write("built")
paths = {_capstone_cache("unit_proc", "fp", build) for _ in range(2)}
assert len(paths) == 1 and os.path.isfile(os.path.join(paths.pop(), "artifact"))
print("BUILDS", len(builds))
"""


def _run_fresh(code: str, tmpdir) -> str:
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_each_process_builds_once_and_leaves_nothing(tmp_path):
    """Two fresh processes sharing one TMPDIR: each runs the build (no
    state crosses processes) and neither leaves an ``sg_*`` entry."""
    for _ in range(2):
        out = _run_fresh(_BUILD_IN_FRESH_PROCESS, tmp_path)
        assert "BUILDS 1" in out.splitlines()
    assert not [e for e in os.listdir(tmp_path) if e.startswith("sg_")]


def test_package_zip_removed_at_exit(tmp_path):
    out = _run_fresh(
        """
import os
from fiware_cosmos_orion_flink_connector_examples_spark import session
spark = session.get_spark(cpus=1)
session.ensure_engine_confs(spark)
assert os.path.isfile(session._package_zip())
print("ZIP", session._package_zip())
""",
        tmp_path,
    )
    zpath = next(ln.split(" ", 1)[1] for ln in out.splitlines() if ln.startswith("ZIP "))
    assert zpath.startswith(str(tmp_path))
    assert not os.path.exists(os.path.dirname(zpath))
