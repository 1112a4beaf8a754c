"""Command-line contract of tools/sweep_degenerate.py, the one operator
harness.  Pure Python: parse_args runs nothing, so no Spark is started.

Every misuse must abort loudly — a run that silently selects zero ops,
or the wrong corpus, prints a green TOTAL for a gate that never ran.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def sw():
    spec = importlib.util.spec_from_file_location(
        "sweep_degenerate", REPO / "tools" / "sweep_degenerate.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("sweep_degenerate", mod)
    spec.loader.exec_module(mod)
    return mod


def test_every_mode_maps_to_an_existing_builder(sw):
    assert None in sw.MODES and len(sw.MODES) == 16
    for flag, build in sw.MODES.items():
        assert flag is None or flag.startswith("--")
        assert build.__name__.startswith("build_") and build.__name__.endswith("_dataset")
        assert getattr(sw, build.__name__) is build, flag


@pytest.mark.parametrize(
    "argv",
    [
        ["--no-such-mode"],
        ["--tiny", "--skew"],
        ["--sf", "/some/corpus", "--tiny"],
        ["--timeout", "30", "--skew"],
        ["--sf"],
    ],
    ids=["unknown_flag", "two_modes", "sf_with_mode", "timeout_without_solo", "sf_no_dir"],
)
def test_misuse_aborts(sw, argv):
    with pytest.raises(SystemExit):
        sw.parse_args(argv)


def test_solo_skew_parse(sw):
    a = sw.parse_args(["--solo", "--timeout", "30", "--skew", "a", "b"])
    assert (a.build, a.solo, a.timeout, a.only) == (sw.build_skew_dataset, True, 30, {"a", "b"})
    assert a.sf is None


def test_defaults_and_sf(sw):
    a = sw.parse_args([])
    assert (a.build, a.sf, a.solo, a.timeout, a.only) == (sw.build_dataset, None, False, 120, set())
    a = sw.parse_args(["--sf", "/some/corpus", "op_x"])
    assert (a.build, a.sf, a.only) == (None, "/some/corpus", {"op_x"})
