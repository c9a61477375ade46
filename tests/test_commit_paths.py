"""Every table write commits through the snapshot log in
``sources/layout.py``: its one version-file publish and its tail-cursor
write are the package's only renames.  A writer elsewhere that swaps
directories with ``.rename(`` leaves a window in which a reader finds
no table at all, and a crash inside it needs its own recovery code.
The log's file names live in layout alone, so no other module can
drift from its format."""

from __future__ import annotations

import ast
from pathlib import Path

import fiware_cosmos_orion_flink_connector_examples_spark as pkg

PKG_DIR = Path(pkg.__file__).parent
COMMIT_LOG = PKG_DIR / "sources" / "layout.py"


def _rename_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "rename"
    ]


def test_only_the_commit_log_renames():
    offenders = {
        str(p.relative_to(PKG_DIR)): lines
        for p in sorted(PKG_DIR.rglob("*.py"))
        if p != COMMIT_LOG and (lines := _rename_calls(p))
    }
    assert offenders == {}, f"directory swaps outside sources/layout.py: {offenders}"
    assert _rename_calls(COMMIT_LOG), "the commit log itself must rename"


def test_one_publish_path_in_the_commit_log():
    # the version-file publish (manifests, index roots, catalogs) and
    # the tail cursor; a second publish body would be a second protocol
    assert len(_rename_calls(COMMIT_LOG)) == 2, _rename_calls(COMMIT_LOG)


def test_version_file_names_live_in_the_commit_log():
    names = ("_manifest_v", "_idxroot_v", "seg-v")
    offenders = {
        str(p.relative_to(PKG_DIR)): found
        for p in sorted(PKG_DIR.rglob("*.py"))
        if p != COMMIT_LOG
        and (found := [n for n in names if n in p.read_text()])
    }
    assert offenders == {}, f"version-file names outside sources/layout.py: {offenders}"
