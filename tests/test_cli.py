"""CLI argument handling that is settled before Spark starts: each test
replaces ``cli._spark`` with a stub that fails if a session is asked for."""

from __future__ import annotations

import pytest

from rdfproject_msc_spark import cli
from rdfproject_msc_spark.registry import REGISTRY


@pytest.fixture(autouse=True)
def no_spark(monkeypatch):
    def _refuse(cpus):
        raise AssertionError("Spark started")

    monkeypatch.setattr(cli, "_spark", _refuse)


def test_run_list_needs_no_name_or_sf_dir(capsys):
    assert cli.main(["run", "--list"]) == 0
    assert capsys.readouterr().out.split() == list(REGISTRY)


def test_run_without_list_needs_name_and_sf_dir(capsys):
    for argv in (["--name", next(iter(REGISTRY))], ["--sf-dir", "sf"], []):
        with pytest.raises(SystemExit):
            cli.main(["run", *argv])
        assert "run needs --name and --sf-dir" in capsys.readouterr().err


def test_serve_takes_only_cpus_of_the_common_options(capsys):
    for flag in ("--show", "--out"):
        with pytest.raises(SystemExit):
            cli.main(["serve", "--store", "s", "--dict", "d", flag, "5"])
        assert "unrecognized arguments" in capsys.readouterr().err


def test_results_refusal_names_the_dict_flag(tmp_path):
    with pytest.raises(SystemExit, match="pass --dict "):
        cli.main([
            "sparql", "--store", str(tmp_path / "s"),
            "--query", "SELECT * WHERE { ?s ?p ?o }", "--results", "json",
        ])


@pytest.mark.parametrize("spec", ["wiki", "wiki=fast", "=2"])
def test_prepare_rejects_a_malformed_rate(tmp_path, spec):
    with pytest.raises(SystemExit, match="SOURCE=RATE"):
        cli.main([
            "prepare", "--docs", str(tmp_path / "docs"),
            "--out", str(tmp_path / "out"), "--rate", spec,
        ])
