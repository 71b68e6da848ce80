"""The extraction kernel's outputs match tests/fixtures/kernel_digests.parquet
under each of the seven option sets of tools/gen_kernel_digests.py: on
every document of its small branch corpus and on every third document of
the other three (the tool itself replays them all)."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "gen_kernel_digests", os.path.join(REPO, "tools", "gen_kernel_digests.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_kernel_digests_match_the_fixture():
    tool = _tool()
    sampled = [corpus for corpus in tool.CORPORA if corpus != "branch"]
    diffs, stats = tool.check(stride=3, corpora=sampled)
    branch_diffs, branch_stats = tool.check(corpora=["branch"])
    assert set(stats) | set(branch_stats) == {(c, o) for c in tool.CORPORA for o in tool.OPTION_SETS}
    assert diffs + branch_diffs == []
