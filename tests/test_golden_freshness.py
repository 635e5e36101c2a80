"""Guard: the frozen golden-parquet oracles must match what the CURRENT
pure-Python core computes. Catches "changed the core, forgot to re-run
tools/make_extract_golden.py" locally, before the driver's oracle
comparison goes red. Samples rows (full regeneration is the tool's job);
no Spark involved.
"""

import os

import duckdb
import pytest

from tools.make_extract_golden import (
    _doc_page_shell,
    _extract_row,
    _mixed_row,
    _read_documents,
)

SF_DIR = "/root/testdata/sf0.001"
REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLD = os.path.join(REPO_DIR, "golden", "sf0.001")
SAMPLE_EVERY = 29  # ~17 of 500 docs


@pytest.fixture(scope="module")
def docs():
    return _read_documents(SF_DIR)[::SAMPLE_EVERY]


def _golden_rows(fname, ids):
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT * FROM read_parquet('{GOLD}/{fname}') WHERE doc_id IN ({ids})"
        " ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def test_documents_golden_fresh(docs):
    ids = ",".join(str(d) for d, _ in docs)
    got = [_extract_row(d) for d in docs]
    assert got == _golden_rows("expected_extract_documents.parquet", ids)


def test_doc_pages_golden_fresh(docs):
    ids = ",".join(str(d) for d, _ in docs)
    got = [_extract_row((d, _doc_page_shell(d, t))) for d, t in docs]
    assert got == _golden_rows("expected_extract_doc_pages.parquet", ids)


def test_mixed_media_golden_fresh(docs):
    ids = ",".join(str(d) for d, _ in docs)
    got = [_mixed_row(d) for d in docs]
    assert got == _golden_rows("expected_extract_mixed_media.parquet", ids)
