"""extract_metadata's outputs match tests/fixtures/metadata_digests.parquet
field by field on all three corpora of tools/gen_metadata_digests.py
(perfbench's seed-1 web pages and chat turns, and the ladder pages)."""

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "gen_metadata_digests", os.path.join(REPO, "tools", "gen_metadata_digests.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_metadata_digests_match_the_fixture():
    diffs, cpu = _tool().check()
    assert set(cpu) == {"web_pages_meta", "chat_turns", "ladder"}
    assert diffs == []
