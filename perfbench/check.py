"""Correctness gates, run outside the timed region with DuckDB: an
engine independent of the Spark program under test.

- CDC: the final lake snapshot must equal last-write-wins over every
  generated event, ordered ``ts DESC, event_seq DESC`` per key, deletes
  excluded. Redelivered and out-of-order events must lose. Every
  read the reader client made must have succeeded with the right keys.
- Corpus: each curation stage's output must equal its registry oracle
  SQL (``registry[name].oracle``) run over the generated corpus, and
  the assembled survivor set must equal the same assembly over the
  oracle outputs.
"""

from __future__ import annotations

import os
import sys

import duckdb

#: the program's envelope mapping of event_type → CDC action, restated
#: independently here (sources/cdc.py: signup insert, error delete)
_CDC_TYPE = (
    "CASE event_type WHEN 'signup' THEN 'insert' WHEN 'error' THEN 'delete' "
    "ELSE 'update' END"
)

SNAPSHOT_COLS = ("entity_id", "last_seq", "last_ts", "last_type", "item")


def lww_expected_sql(event_files: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in event_files)
    return f"""
    SELECT CAST(user_id AS VARCHAR) AS entity_id, event_id AS last_seq,
           CAST(ts AS TIMESTAMP) AS last_ts, {_CDC_TYPE} AS last_type, props AS item
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM read_parquet([{files}])
    )
    WHERE rn = 1 AND event_type <> 'error'
    """


def diff_count(con: duckdb.DuckDBPyConnection, actual_sql: str, expected_sql: str) -> int:
    """Rows in the symmetric multiset difference of two queries with
    the same column names (compared by name)."""
    cols = sorted(c[0] for c in con.sql(f"SELECT * FROM ({expected_sql}) LIMIT 0").description)
    sel = ", ".join(cols)
    a = f"SELECT {sel} FROM ({actual_sql})"
    e = f"SELECT {sel} FROM ({expected_sql})"
    q = f"SELECT count(*) FROM (({a} EXCEPT ALL {e}) UNION ALL ({e} EXCEPT ALL {a}))"
    return con.sql(q).fetchone()[0]


def check_lww(snapshot_parquet_dir: str, event_files: list[str]) -> int:
    """Mismatched rows between the written lake snapshot and the
    DuckDB LWW oracle (0 = correct)."""
    con = duckdb.connect()
    try:
        actual = (
            "SELECT entity_id, last_seq, CAST(last_ts AS TIMESTAMP) AS last_ts, last_type, item "
            f"FROM read_parquet('{snapshot_parquet_dir}/*.parquet')"
        )
        return diff_count(con, actual, lww_expected_sql(event_files))
    finally:
        con.close()


def point_read_ok(returned_keys: list[str], asked: list[str]) -> bool:
    """A point read may return only keys it was asked for (a deleted
    or never-written key returns no row)."""
    return set(returned_keys) <= set(asked)


def cdc_failures(missing: list[str], mismatched: int, reads: list[dict]) -> list[str]:
    """Why a CDC run is wrong: each read that raised or returned wrong
    rows, and one entry when published files were never read or the
    snapshot differs from the LWW oracle. Empty on a correct run."""
    out = [f"{o['kind']} read failed: {o['error'] or 'wrong rows'}" for o in reads if not o["ok"]]
    if missing or mismatched:
        out.append(f"LWW check: {mismatched} mismatched rows, {len(missing)} files never read")
    return out


# ------------------------------------------------------------- corpus

#: curation stages checked against their registry oracle
CURATE_STAGES = (
    "ext_dup_span_trim",
    "ext_quality_logit",
    "ext_dedup_components",
    "ext_semdedup",
    "ext_decontaminate",
    "ext_domain_cap",
    "ext_split_hash",
)

#: the survivor assembly of examples/curate_corpus.py over stage
#: outputs exposed as tables named after the stages
ASSEMBLY_SQL = """
WITH span_ok AS (
  SELECT doc_id FROM ext_dup_span_trim WHERE n_kept * 10 >= n_tokens * 3
), quality AS (
  SELECT q.doc_id FROM ext_quality_logit q JOIN span_ok USING (doc_id) WHERE q.keep = 1
), canonical AS (
  SELECT min(d.doc_id) AS doc_id FROM documents d JOIN quality USING (doc_id)
  GROUP BY sha256(lower(trim(d.text)))
), clustered AS (
  SELECT c.doc_id, k.component FROM canonical c
  LEFT JOIN ext_dedup_components k USING (doc_id)
), deduped AS (
  SELECT doc_id FROM clustered WHERE component IS NULL
  UNION ALL
  SELECT min(doc_id) FROM clustered WHERE component IS NOT NULL GROUP BY component
), sem_dropped AS (
  SELECT CAST(sid AS BIGINT) AS doc_id
  FROM (SELECT unnest(string_split(dropped_ids, '|')) AS sid FROM ext_semdedup)
  WHERE sid <> ''
), capped AS (
  SELECT CAST(kid AS BIGINT) AS doc_id
  FROM (SELECT unnest(string_split(kept_ids, '|')) AS kid FROM ext_domain_cap)
  WHERE kid <> ''
)
SELECT s.doc_id, h.split
FROM deduped s
JOIN capped USING (doc_id)
JOIN ext_split_hash h USING (doc_id)
WHERE s.doc_id NOT IN (SELECT doc_id FROM sem_dropped)
  AND s.doc_id NOT IN (SELECT doc_id FROM ext_decontaminate)
"""


def oracles() -> dict:
    """The query registry, with the curation operators registered."""
    import lapidus_spark.functions.corpus  # noqa: F401
    import lapidus_spark.functions.dedup  # noqa: F401
    import lapidus_spark.functions.pipeline  # noqa: F401
    import lapidus_spark.functions.similarity  # noqa: F401
    from lapidus_spark.plans.registry import REGISTRY

    return REGISTRY


def corpus_connection(corpus_dir: str, database: str = ":memory:") -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(database)
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus_dir, t)}.parquet')"
        )
    return con


def oracle_tables(corpus_dir: str, database: str = ":memory:") -> duckdb.DuckDBPyConnection:
    """A connection over the corpus holding each stage's oracle output
    in a table named after the stage. Each oracle runs once."""
    registry = oracles()
    con = corpus_connection(corpus_dir, database)
    for name in CURATE_STAGES:
        con.execute(f"CREATE TABLE {name} AS {registry[name].oracle}")
    return con


def check_corpus(con: duckdb.DuckDBPyConnection, passes: list[tuple[dict[str, str], str]]) -> dict[str, int]:
    """Mismatched rows per stage (and for the assembled survivors)
    between the program's written outputs and the oracle tables of
    ``con`` (see ``oracle_tables``), summed over ``passes`` of (stage
    output dirs, survivors dir)."""
    bad = dict.fromkeys((*CURATE_STAGES, "assembly"), 0)
    for stage_dirs, survivors_dir in passes:
        for name in CURATE_STAGES:
            actual = f"SELECT * FROM read_parquet('{stage_dirs[name]}/*.parquet')"
            bad[name] += diff_count(con, actual, f"SELECT * FROM {name}")
        bad["assembly"] += diff_count(
            con, f"SELECT * FROM read_parquet('{survivors_dir}/*.parquet')", ASSEMBLY_SQL
        )
    return bad


if __name__ == "__main__":
    # python3 -m perfbench.check <corpus_dir> <database>: write the
    # corpus oracle tables into a DuckDB file (run in a child process,
    # so the benchmark's resident-memory figure holds no DuckDB memory)
    oracle_tables(sys.argv[1], sys.argv[2]).close()
