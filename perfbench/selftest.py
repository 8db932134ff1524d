#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark session needed):

- the same seed gives byte-identical input files, another seed does not;
- the LWW checker accepts the oracle's own snapshot and rejects it
  with one planted wrong row;
- a read that raised or returned keys it was not asked for fails the
  CDC run;
- the corpus checker accepts the oracle outputs and rejects them with
  one dropped row, per stage and for the assembled survivors.

    python3 perfbench/selftest.py

Exits non-zero on the first failed test.
"""

from __future__ import annotations

import filecmp
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, gen  # noqa: E402

SMALL_CDC = gen.CdcShape(
    n_keys=500,
    events_per_file=300,
    zipf_s=1.1,
    delete_share=0.1,
    insert_share=0.05,
    redelivery_share=0.1,
    out_of_order_share=0.2,
)
SMALL_CORPUS = gen.CorpusShape(n_docs=200)


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def _cdc_files(directory: str, seed: int, n_files: int = 4) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    g = gen.CdcGenerator(seed, SMALL_CDC)
    paths = [gen.write_atomic(g.bootstrap(), directory, "events.parquet")]
    for i in range(n_files):
        paths.append(gen.write_atomic(g.next_file(), directory, f"events_{i:05d}.parquet"))
    return paths


def _same_files(a: list[str], b: list[str]) -> bool:
    return all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_seeded_inputs_are_byte_identical(tmp: str) -> None:
    a = _cdc_files(os.path.join(tmp, "a"), 7)
    b = _cdc_files(os.path.join(tmp, "b"), 7)
    c = _cdc_files(os.path.join(tmp, "c"), 8)
    _expect(_same_files(a, b), "same seed gave different CDC files")
    _expect(not _same_files(a, c), "different seeds gave identical CDC files")
    for name, seed in (("ca", 7), ("cb", 7), ("cc", 8)):
        gen.write_corpus(os.path.join(tmp, name), *gen.corpus_tables(seed, SMALL_CORPUS))
    files = ("documents.parquet", "embeddings.parquet")
    pa_, pb_, pc_ = ([os.path.join(tmp, d, f) for f in files] for d in ("ca", "cb", "cc"))
    _expect(_same_files(pa_, pb_), "same seed gave different corpus files")
    _expect(not _same_files(pa_, pc_), "different seeds gave identical corpus files")


def test_lww_checker_rejects_planted_row(tmp: str) -> None:
    events = _cdc_files(os.path.join(tmp, "lww"), 3)
    con = duckdb.connect()
    good = os.path.join(tmp, "snap_good")
    bad = os.path.join(tmp, "snap_bad")
    os.makedirs(good)
    os.makedirs(bad)
    expected = check.lww_expected_sql(events)
    con.execute(f"COPY ({expected}) TO '{good}/part-0.parquet' (FORMAT parquet)")
    _expect(check.check_lww(good, events) == 0, "checker rejected the oracle snapshot")
    # plant one wrong row: a key's winner replaced by an older event of
    # the same key (what an out-of-order or redelivered event winning
    # would produce)
    files = ", ".join(f"'{p}'" for p in events)
    planted = con.sql(
        f"""
        WITH older AS (
          SELECT CAST(user_id AS VARCHAR) AS entity_id, event_id, ts, props,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM read_parquet([{files}])
        ), victim AS (
          SELECT o.* FROM older o JOIN ({expected}) e USING (entity_id)
          WHERE o.rn = 2 ORDER BY o.entity_id LIMIT 1
        )
        SELECT e.entity_id,
               CASE WHEN e.entity_id = v.entity_id THEN v.event_id ELSE e.last_seq END AS last_seq,
               CASE WHEN e.entity_id = v.entity_id THEN CAST(v.ts AS TIMESTAMP) ELSE e.last_ts END AS last_ts,
               e.last_type,
               CASE WHEN e.entity_id = v.entity_id THEN v.props ELSE e.item END AS item
        FROM ({expected}) e LEFT JOIN victim v USING (entity_id)
        """
    )
    planted.write_parquet(f"{bad}/part-0.parquet")
    _expect(check.check_lww(bad, events) > 0, "checker accepted a planted wrong row")
    con.close()


def test_failed_read_fails_the_cdc_run(tmp: str) -> None:
    asked = ["1", "2", "3"]
    _expect(check.point_read_ok(["1", "3"], asked), "rejected a read of asked keys")
    _expect(not check.point_read_ok(["1", "4"], asked), "accepted a read with an unasked key")
    good = [{"kind": "point", "ok": True, "error": None}, {"kind": "scan", "ok": True, "error": None}]
    _expect(check.cdc_failures([], 0, good) == [], "a clean run reported failures")
    for bad in (
        {"kind": "point", "ok": False, "error": "RuntimeError('boom')"},
        {"kind": "point", "ok": False, "error": None},
        {"kind": "scan", "ok": False, "error": None},
    ):
        _expect(len(check.cdc_failures([], 0, good + [bad])) == 1, f"accepted a failed read {bad}")
    _expect(check.cdc_failures([], 1, good), "accepted a mismatched snapshot")
    _expect(check.cdc_failures(["events_00001.parquet"], 0, good), "accepted an unread file")


def test_corpus_checker_rejects_dropped_row(tmp: str) -> None:
    registry = check.oracles()
    corpus = os.path.join(tmp, "corpus")
    gen.write_corpus(corpus, *gen.corpus_tables(5, SMALL_CORPUS))
    con = check.corpus_connection(corpus)
    dirs = {}
    for name in check.CURATE_STAGES:
        dirs[name] = os.path.join(tmp, "stages", name)
        os.makedirs(dirs[name])
        con.execute(f"CREATE VIEW {name} AS {registry[name].oracle}")
        con.execute(f"COPY (SELECT * FROM {name}) TO '{dirs[name]}/part-0.parquet' (FORMAT parquet)")
    surv = os.path.join(tmp, "survivors")
    os.makedirs(surv)
    con.execute(f"COPY ({check.ASSEMBLY_SQL}) TO '{surv}/part-0.parquet' (FORMAT parquet)")
    n_surv = con.sql(f"SELECT count(*) FROM read_parquet('{surv}/*.parquet')").fetchone()[0]
    _expect(n_surv > 0, "the assembly kept no document")
    oracle = check.oracle_tables(corpus)
    bad = check.check_corpus(oracle, [(dirs, surv)])
    _expect(not any(bad.values()), f"checker rejected the oracle outputs: {bad}")
    for target in (*check.CURATE_STAGES, "assembly"):
        src = surv if target == "assembly" else dirs[target]
        dropped = os.path.join(tmp, "dropped", target)
        os.makedirs(dropped)
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/*.parquet') OFFSET 1) "
            f"TO '{dropped}/part-0.parquet' (FORMAT parquet)"
        )
        d = dict(dirs)
        if target == "assembly":
            bad = check.check_corpus(oracle, [(d, dropped)])
        else:
            d[target] = dropped
            bad = check.check_corpus(oracle, [(d, surv)])
        _expect(bad[target] > 0, f"checker accepted {target} with a dropped row")
    oracle.close()
    con.close()


def main() -> int:
    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for t in tests:
        with tempfile.TemporaryDirectory(dir=work) as tmp:
            t(tmp)
        print(f"ok {t.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
