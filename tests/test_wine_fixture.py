"""Which wine CSV ``csv_scan`` reads (airflow_etl_elt_spark/queries.py
``wine_csv``): the reference's UCI file where it exists, else the committed
wine-shaped fixture (FIXTURES.md §1). No JVM is needed."""

from __future__ import annotations

import importlib.util
import os
import subprocess

import pytest

from airflow_etl_elt_spark import queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINE_COLUMNS = [
    "fixed acidity", "volatile acidity", "citric acid", "residual sugar",
    "chlorides", "free sulfur dioxide", "total sulfur dioxide", "density",
    "pH", "sulphates", "alcohol", "quality",
]


def test_reference_csv_wins_where_it_exists(monkeypatch, tmp_path):
    ref = tmp_path / "winequality-white.csv"
    ref.write_text(";".join(WINE_COLUMNS) + "\n")
    monkeypatch.setattr(queries, "REFERENCE_WINE_CSV", str(ref))
    assert queries.wine_csv() == str(ref)


def test_fixture_stands_in_where_reference_is_absent(monkeypatch, tmp_path):
    monkeypatch.setattr(queries, "REFERENCE_WINE_CSV", str(tmp_path / "absent.csv"))
    path = queries.wine_csv()
    assert path == queries.FIXTURE_WINE_CSV
    assert os.path.isabs(path)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(REPO, ".git")), reason="not a git checkout"
)
def test_fixture_is_tracked_and_wine_shaped():
    path = queries.FIXTURE_WINE_CSV
    rel = os.path.relpath(path, REPO)
    tracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "--error-unmatch", rel],
        capture_output=True, text=True,
    )
    assert tracked.returncode == 0, f"{rel} is not tracked by git: {tracked.stderr}"
    with open(path) as f:
        header, *rows = f.read().splitlines()
    assert header.split(";") == WINE_COLUMNS
    assert rows and all(len(r.split(";")) == len(WINE_COLUMNS) for r in rows)
    assert {int(r.rsplit(";", 1)[1]) for r in rows} <= set(range(3, 10))


def test_fixture_is_what_its_generator_writes():
    spec = importlib.util.spec_from_file_location(
        "make_wine_fixture", os.path.join(REPO, "scripts", "make_wine_fixture.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert os.path.abspath(gen.DEFAULT_OUT) == queries.FIXTURE_WINE_CSV
    with open(queries.FIXTURE_WINE_CSV, newline="") as f:
        assert f.read() == gen.fixture_text()


def test_builder_and_oracle_read_one_file():
    literal = queries.WINE_CSV.replace("'", "''")
    assert f"read_csv('{literal}'" in queries.ORACLE_SQL["csv_scan"]
    assert queries.WINE_CSV in (queries.REFERENCE_WINE_CSV, queries.FIXTURE_WINE_CSV)
