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


SUBCOMMANDS = [
    "load", "ingest", "update", "materialize", "vacuum", "sql", "sparql",
    "serve", "run", "curate", "split", "decontaminate", "quality",
    "dedup-passages", "prepare", "select", "tokenize", "report", "neardup",
    "export", "dsir", "search",
]


def test_the_table_holds_the_subcommands_in_order():
    assert [entry[0] for entry in cli.COMMANDS] == SUBCOMMANDS


@pytest.mark.parametrize("name", SUBCOMMANDS)
def test_help(name, capsys):
    with pytest.raises(SystemExit) as exit_:
        cli.main([name, "--help"])
    assert exit_.value.code == 0
    assert "--cpus" in capsys.readouterr().out


def test_results_needs_results_out(tmp_path):
    with pytest.raises(SystemExit, match="^--results needs --results-out$"):
        cli.main([
            "sparql", "--store", str(tmp_path / "s"), "--dict",
            str(tmp_path / "d"), "--query", "SELECT * WHERE { ?s ?p ?o }",
            "--results", "json",
        ])


def test_vacuum_quads_needs_quads_out(tmp_path):
    with pytest.raises(SystemExit, match="^--quads needs --quads-out$"):
        cli.main([
            "vacuum", "--store", str(tmp_path / "s"), "--dict",
            str(tmp_path / "d"), "--out", str(tmp_path / "s2"),
            "--dict-out", str(tmp_path / "d2"), "--quads", str(tmp_path / "q"),
        ])


def test_neardup_probe_needs_out_before_building(tmp_path):
    index = tmp_path / "index"
    with pytest.raises(SystemExit, match="^--probe requires --out$"):
        cli.main([
            "neardup", "--index", str(index), "--build", str(tmp_path / "c"),
            "--probe", str(tmp_path / "d"),
        ])
    assert not index.exists()


@pytest.mark.parametrize("argv, error", [
    (["--build-index", "--docs", "d"], "--build-index needs --docs and --index"),
    (["--docs", "d"], "--query is required"),
    (["--query", "spark"], "need --docs or --index"),
])
def test_search_flag_errors(argv, error, capsys):
    assert cli.main(["search", *argv]) == 2
    assert capsys.readouterr().err == error + "\n"
