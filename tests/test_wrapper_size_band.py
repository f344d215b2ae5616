"""The size band in l_wrapper_pair_audit's pair join, pinned from the
executed plan: the join's own `number of output rows` at sf0.001 must be
the banded pair-row count computed in DuckDB, and below the count the
join would emit without the band. A refactor that drops the band from
the join condition keeps the output (the final filter still decides)
but fails here."""

from __future__ import annotations

import duckdb
from conftest import SF_SMOKE

import dock_financial_data_pipelines_spark as engine
from dock_financial_data_pipelines_spark import observability
from dock_financial_data_pipelines_spark.hashing import h60_sql
from dock_financial_data_pipelines_spark.operators.dedup import (
    _MH_SHINGLES_SQL,
)

_PAIR_ROWS_SQL = f"""
WITH {_MH_SHINGLES_SQL},
sh AS (SELECT DISTINCT doc_id, {h60_sql("shingle", "duckdb")} AS h
       FROM shingles),
freq AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 64),
capped AS (SELECT sh.doc_id, sh.h FROM sh JOIN freq USING (h)),
sized AS (SELECT doc_id, h, count(*) OVER (PARTITION BY doc_id) AS sz
          FROM capped)
SELECT count(*) AS unbanded,
       count(*) FILTER (WHERE 5 * greatest(a.sz, b.sz)
                              > 7 * least(a.sz, b.sz)) AS banded
FROM sized a JOIN sized b ON a.h = b.h AND a.doc_id < b.doc_id
"""


_EMPTY_PROPAGATION = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


def _pair_join_rows(spark) -> int:
    # No sf0.001 pair passes the audit, and when the last stage comes
    # back empty AQE swaps the final plan for an EmptyRelation, dropping
    # the executed join and its metrics. Keep that one rule off while
    # the query runs; the join itself is planned as usual.
    key = "spark.sql.adaptive.optimizer.excludedRules"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, _EMPTY_PROPAGATION)
    try:
        df = engine.QUERIES["l_wrapper_pair_audit"](spark, SF_SMOKE)
        df.collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # the pair join is the one keyed on the shingle hash h
    joins = [
        n
        for n in observability.plan_nodes(
            df._jdf.queryExecution().executedPlan()
        )
        if "Join" in n.nodeName() and "[h#" in n.simpleString(1000)
    ]
    assert len(joins) == 1, [n.simpleString(1000) for n in joins]
    (join,) = joins
    desc = join.simpleString(1000)
    assert "greatest(" in desc and "least(" in desc, desc
    return int(join.metrics().apply("numOutputRows").value())


def test_pair_join_emits_only_banded_rows(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_SMOKE}/documents.parquet'"
    )
    unbanded, banded = con.execute(_PAIR_ROWS_SQL).fetchone()
    rows = _pair_join_rows(spark)
    assert rows == banded < unbanded
