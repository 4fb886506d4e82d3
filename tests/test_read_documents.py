"""fixtures.read_documents infers the documents schema once per file
version: a repeated read runs no Spark job, a rewritten file is inferred
again, and the rows read equal the DuckDB oracle's."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.errors import AnalysisException

from engine.pipeline import fixtures

from .conftest import SF_DIR


def _jobs(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_documents_infers_once_per_file_version(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/documents.parquet"
    shutil.copy(f"{SF_DIR}/documents.parquet", path)
    first, n_first = _jobs(spark, "docs_read_first", lambda: fixtures.read_documents(spark, d))
    again, n_again = _jobs(spark, "docs_read_again", lambda: fixtures.read_documents(spark, d))
    assert (n_first, n_again) == (1, 0)
    assert again.schema == first.schema

    src = pd.read_parquet(path)
    src.assign(extra=1).to_parquet(path)
    wider, n_wider = _jobs(spark, "docs_read_wider", lambda: fixtures.read_documents(spark, d))
    assert n_wider == 1 and wider.columns == first.columns + ["extra"]

    src.drop(columns=["lang"]).to_parquet(path)
    with pytest.raises(AnalysisException):
        fixtures.read_documents(spark, d).select("lang").collect()


def test_read_documents_rows_match_oracle(spark, ddb):
    fixtures.read_documents(spark, SF_DIR)  # the schema is cached from here on
    docs = fixtures.read_documents(spark, SF_DIR)
    want = ddb.execute(f"SELECT {', '.join(docs.columns)} FROM documents").fetchall()
    assert sorted(tuple(r) for r in docs.collect()) == sorted(want)
