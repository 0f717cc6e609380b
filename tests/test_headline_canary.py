"""Default-tier canary for the frozen bench headline.

Runs the 21 ``bench.HEADLINE`` queries twice at sf0.001 in the test
session. Every output of both passes must match its DuckDB twin
(row count, columns and ``tools/check_oracle``'s order-insensitive
value hash), and the second pass must reuse the generated classes the
first one compiled: Spark's codegen cache has to hold the whole
headline class population (about 245 classes), which its default size
of 100 does not.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import __spark_entry__ as entrymod
from check_oracle import table_fingerprint
from hi_csa_db_spark.catalog import TABLES
from hi_csa_db_spark.session import codegen_compilations

with pytest.MonkeyPatch.context() as _mp:
    # bench sets SPARK_SUBMIT_OPTS for the JVM it launches itself; keep
    # it out of this process's environment
    _mp.setenv("SPARK_SUBMIT_OPTS", os.environ.get("SPARK_SUBMIT_OPTS", ""))
    from bench import HEADLINE


def _fingerprint(cols, rows):
    cols_l = [c.lower() for c in cols]
    return sorted(cols_l), len(rows), table_fingerprint(cols_l, rows)[0]


@pytest.fixture(scope="module")
def headline_passes(spark, sf_dir):
    """Per pass: the classes compiled and each query's fingerprint."""
    qs = entrymod.queries()
    passes = []
    for _ in range(2):
        c0 = codegen_compilations(spark)
        outputs = {}
        for name in HEADLINE:
            df = qs[name](spark, sf_dir)
            outputs[name] = _fingerprint(df.columns, [tuple(r) for r in df.collect()])
        passes.append((codegen_compilations(spark) - c0, outputs))
    return passes


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = entrymod.oracle_sql()
    out = {}
    for name in HEADLINE:
        rel = con.sql(sqls[name])
        out[name] = _fingerprint(rel.columns, rel.fetchall())
    return out


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_matches_oracle_in_both_passes(headline_passes, oracle, name):
    for _compiled, outputs in headline_passes:
        assert outputs[name] == oracle[name]


def test_second_pass_reuses_compiled_classes(headline_passes):
    (first, _), (second, _) = headline_passes
    assert second <= 0.1 * first, f"first pass compiled {first}, second {second}"
