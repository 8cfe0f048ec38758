"""Every tools/*.py module imports cleanly: a tool runs its work only
under its ``__main__`` guard, so importing one checks that the engine
names it uses still exist."""

import glob
import importlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TOOLS = sorted(
    os.path.splitext(os.path.basename(p))[0]
    for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
)


def test_tools_are_found():
    assert "perf" in TOOLS and "check_oracle" in TOOLS


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
