"""scripts/check_oracle.py validates the checkout it lives in.

A second checkout (an A/B copy, say) must import its own
`__spark_entry__` and `refine_spark`, not those of some other tree.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_PROBE = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("check_oracle", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
print(mod.entrymod.__file__)
print(sys.modules["refine_spark"].__file__)
"""


def test_check_oracle_imports_its_own_checkout(tmp_path):
    copy = tmp_path / "checkout"
    (copy / "scripts").mkdir(parents=True)
    shutil.copy(REPO / "scripts" / "check_oracle.py", copy / "scripts")
    shutil.copy(REPO / "__spark_entry__.py", copy)
    shutil.copytree(
        REPO / "refine_spark", copy / "refine_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    elsewhere = tmp_path / "cwd"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(copy / "scripts" / "check_oracle.py")],
        cwd=elsewhere, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    entry_file, pkg_file = out.stdout.split()
    assert Path(entry_file).resolve().is_relative_to(copy.resolve())
    assert Path(pkg_file).resolve().is_relative_to(copy.resolve())
