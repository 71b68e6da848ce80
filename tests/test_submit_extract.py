"""tools/submit_extract.py's command line: parsing and the session
settings it adds, without running a Spark job."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location("submit_extract", os.path.join(REPO, "tools", "submit_extract.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_profile_flag_turns_on_the_perf_udf_profiler():
    tool = _tool()
    plain = tool.parse_args(["--synthetic", "4", "--output", "out"])
    assert not plain.profile and tool.session_conf(plain) == {}
    profiled = tool.parse_args(["--input", "in", "--output", "out", "--profile"])
    assert profiled.profile
    assert tool.session_conf(profiled) == {"spark.sql.pyspark.udf.profiler": "perf"}


def test_profile_help_names_what_the_profile_cannot_see(capsys):
    with pytest.raises(SystemExit):
        _tool().parse_args(["--help"])
    help_text = " ".join(capsys.readouterr().out.split())
    assert "covers the UDF body only" in help_text
    assert "between tasks" in help_text


def test_an_input_is_required():
    with pytest.raises(SystemExit):
        _tool().parse_args(["--output", "out", "--profile"])
