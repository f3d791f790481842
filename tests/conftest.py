"""Shared pytest fixtures: one SparkSession per run, seeded fixture data."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fixtures.gen import gen_transcripts  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from advanced_text_extraction_spark.sources.session import build_session

    s = build_session(app_name="ate-tests")
    assert s.conf.get("spark.sql.shuffle.partitions") == "8"
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    """Golden fixture set (FIXTURES.md small scale, seed=42)."""
    return gen_transcripts(n_turns=600, n_convs=20, seed=42)


@pytest.fixture(scope="session")
def transcripts_path(transcripts_pdf, tmp_path_factory):
    p = tmp_path_factory.mktemp("fixtures") / "transcripts.parquet"
    transcripts_pdf.to_parquet(p, index=False)
    return str(p)


@pytest.fixture(scope="session")
def golden_pdf(transcripts_pdf):
    """Oracle goldens over the same fixture set (SURVEY §5.2 layer 2)."""
    from oracle.extractor import extract_table

    return extract_table(transcripts_pdf)
