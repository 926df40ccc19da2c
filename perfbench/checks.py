"""Output checks, run after the engine exits (outside every timed region).

Each check either passes or counts one failure. DuckDB recomputes what the
engine wrote, from the oracle SQL the engine itself publishes
(`SparkEntry.oracleSql`, dumped by the JVM to oracle_sql.json).
"""
import datetime
import decimal
import glob
import json
import os

import duckdb

import layers


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return int(v) if v.is_integer() else float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def canonical(rel):
    """Column names and the multiset of rows, columns sorted by name and
    values normalised (integral numbers as int, other doubles to 12
    significant digits, timestamps as UTC ISO strings)."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def _views(con, data, tables):
    for t in tables:
        p = f"{data}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")


def _count_hash(con, sql, cols):
    return con.sql(f"SELECT count(*), sum(hash({cols}) % 4294967291) "
                   f"FROM ({sql})").fetchone()


def pipeline(run, oracle):
    con = duckdb.connect()
    _views(con, f"{run}/data", ("documents", "orders", "customer"))
    out = f"{run}/out"
    rev_cols = "doc_id::BIGINT, text::VARCHAR, sentiment::BIGINT"
    want = (f"WITH d AS ({oracle['q03_dedup_exact']}), "
            f"c AS ({oracle['q05_clean_text']}) "
            "SELECT d.doc_id, c.text_clean AS text, "
            "CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS sentiment "
            "FROM d JOIN c USING (doc_id)")
    got = f"SELECT * FROM read_parquet('{out}/reviews.parquet/*.parquet')"
    ord_cols = ("o_orderkey::BIGINT, o_totalprice::DOUBLE, c_name::VARCHAR, "
                "c_mktsegment::VARCHAR, elite::BIGINT")
    want_o = (f"SELECT a.*, b.elite FROM ({oracle['q04_left_join']}) a "
              f"JOIN ({oracle['q07_elite_fill']}) b USING (o_orderkey)")
    got_o = f"SELECT * FROM read_parquet('{out}/orders_enriched.parquet/*.parquet')"
    return {
        "preprocess_reviews_match_duckdb":
            _count_hash(con, want, rev_cols) == _count_hash(con, got, rev_cols),
        "preprocess_orders_match_duckdb":
            _count_hash(con, want_o, ord_cols) == _count_hash(con, got_o, ord_cols),
    }


def minhash_pairs(con, out):
    """q16 has no oracle (LSH candidates are approximate), so check what
    must hold for any input: every reported pair is two distinct documents
    at or above the 0.8 threshold, reported once, and every pair of
    documents with identical text (identical signatures, so LSH cannot
    miss them) is reported."""
    pairs = con.sql(f"SELECT id_a, id_b, jaccard FROM read_parquet('{out}/*.parquet')"
                    ).fetchall()
    got = {(min(a, b), max(a, b)) for a, b, _ in pairs}
    groups = con.sql("SELECT list(doc_id ORDER BY doc_id) FROM documents "
                     "GROUP BY text HAVING count(*) > 1").fetchall()
    want = {(ids[i], ids[j]) for (ids,) in groups
            for i in range(len(ids)) for j in range(i + 1, len(ids))}
    return (len(got) == len(pairs) and want <= got and
            all(a != b and j >= 0.8 for a, b, j in pairs))


def operator_mix(run, oracle, queries):
    con = duckdb.connect()
    _views(con, f"{run}/data", ("documents", "events"))
    out = {}
    for q in queries:
        files = f"{run}/mix_out/{q}"
        if not glob.glob(f"{files}/*.parquet"):
            out[f"oracle_{q}"] = False
            continue
        if q == "q16_minhash_pairs":
            out["pairs_q16_minhash_pairs"] = minhash_pairs(con, files)
        elif q in oracle:
            got = canonical(con.sql(f"SELECT * FROM read_parquet('{files}/*.parquet')"))
            out[f"oracle_{q}"] = got == canonical(con.sql(oracle[q]))
    return out


def run(workload, run_dir, res):
    """(all passed, attempted, failed, per-check outcomes)."""
    outcome = dict(res.get("checks", {}))
    oracle_path = f"{run_dir}/oracle_sql.json"
    oracle = json.load(open(oracle_path)) if os.path.exists(oracle_path) else {}
    if workload == "pipeline":
        outcome.update(pipeline(run_dir, oracle))
        bad_ops = res["iterations_failed"]
        ops = len(res["iterations"]) + bad_ops
    elif workload == "operator_mix":
        outcome.update(operator_mix(run_dir, oracle,
                                    sorted({r["query"] for r in res["runs"]})))
        bad_ops = sum(1 for r in res["runs"] if not r["ok"])
        ops = len(res["runs"])
    else:
        outcome["high_backlog_flat"] = layers.stream_view(res)["flat"]
        ops = res["expected_docs"]
        bad_ops = res["sentiment_mismatches"] + res["sink_duplicated_docs"]
    failed = bad_ops + sum(1 for v in outcome.values() if not v)
    attempted = ops + len(outcome)
    return failed == 0, attempted, failed, outcome
