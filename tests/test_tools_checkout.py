"""Every tool imports the package of the checkout it lives in, so a
copy of another revision (the parent side of an A/B) checks its own
code and not whichever checkout happens to be installed or current."""

import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "tool", ["tools/check_oracles.py", "tools/plan_audit.py",
             "bench_scaling.py"],
)
def test_tool_imports_its_own_checkout(tmp_path, tool):
    tree = tmp_path / "tree"
    copy = tree / tool
    copy.parent.mkdir(parents=True, exist_ok=True)
    shutil.copy(os.path.join(ROOT, tool), copy)
    stub = tree / "raster_tools_spark" / "__init__.py"
    stub.parent.mkdir()
    stub.write_text("")
    elsewhere = tmp_path / "cwd"
    elsewhere.mkdir()
    code = (
        "import runpy; "
        f"runpy.run_path({str(copy)!r}, run_name='loaded'); "
        "import raster_tools_spark; print(raster_tools_spark.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=elsewhere,
        capture_output=True, text=True, timeout=120, check=True,
    )
    assert out.stdout.strip() == str(stub)
