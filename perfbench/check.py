"""Answer checker: every answer the JVM saw is compared with a DuckDB
computation made apart from the program.

- htsql_interactive: each template's paired SQL, filled with the same
  literals, against every distinct response body of its request (and, on a
  traced run, every in-process replay).
- ingest_index: the survivors against DuckDB's minimum `doc_id` per distinct
  canonical shingle set (published by the batch of their arrival), and each
  index read against a BM25 top-k over the survivors committed so far.

Integers and strings must match exactly, floats within a relative 1e-9, and
row counts exactly.

    python3 perfbench/check.py --self-test    # the checker rejects perturbed answers
"""
import json
import math
import sys

import duckdb

REL = 1e-9


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b or a == b and type(a) is type(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= REL * max(abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def _plain(v):
    """DuckDB values in the JSON shapes Spark renders."""
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if hasattr(v, "is_finite"):      # Decimal
        return float(v)
    return v


def compare(rows, cols, ref):
    """`rows`: JSON records (Spark leaves null fields out); `cols`, `ref`:
    the reference's column names and tuples, in order. Returns None or the
    first difference."""
    if len(rows) != len(ref):
        return f"{len(rows)} rows, reference has {len(ref)}"
    for i, (row, want) in enumerate(zip(rows, ref)):
        extra = set(row) - set(cols)
        if extra:
            return f"row {i}: unexpected columns {sorted(extra)}"
        for c, w in zip(cols, want):
            if not _same(row.get(c), _plain(w)):
                return f"row {i} column {c}: got {row.get(c)!r}, reference {w!r}"
    return None


def parse_body(body):
    """A response or collected output as a list of records, or an error."""
    try:
        rows = json.loads(body)
    except ValueError as e:
        return None, f"not JSON ({e}); {len(body)} chars"
    if not isinstance(rows, list) or not all(isinstance(r, dict) for r in rows):
        return None, "not a list of records"
    return rows, None


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _connect(data, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_htsql(data, answers, keep):
    con = _connect(data, ["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events"])
    errors = []
    for i, (name, sql) in enumerate(keep["sql"]):
        bodies = answers["bodies"].get(str(i), [])
        if not bodies:
            continue    # not asked in this run, or always failed (counted in `failed`)
        cols, ref = _query(con, sql)
        for body in bodies:
            rows, err = parse_body(body)
            err = err or compare(rows, cols, ref)
            if err:
                errors.append(f"request {i} ({name}): {err}")
    return errors


def _bm25_sql(terms, upto, k):
    """The q_bm25_index_topk oracle form over the survivors of arrivals
    0..upto, with the query terms as a parameter."""
    tf = ",\n".join(
        f"CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"x -> x = '{t}')) AS BIGINT) AS tf_{i}" for i, t in enumerate(terms))
    df = ",\n".join(f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
                    for i in range(len(terms)))
    contrib = " + ".join(
        f"CAST(floor((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) * (CAST(tf_{i} AS DOUBLE) * 2.2 "
        f"/ (CAST(tf_{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs "
        f"/ t_len)))) * 1e9) AS BIGINT)" for i in range(len(terms)))
    match = " OR ".join(f"tf_{i} > 0" for i in range(len(terms)))
    return f"""
        WITH base AS (
          SELECT doc_id, {tf},
            CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
              x -> x <> '')) AS BIGINT) AS dl
          FROM surv WHERE fidx <= {upto}),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) AS t_len, {df}
          FROM base),
        scored AS (
          SELECT doc_id, dl, {contrib} AS su FROM base CROSS JOIN stats WHERE {match}),
        top AS (
          SELECT doc_id, dl, su, row_number() OVER (ORDER BY su DESC, doc_id) AS "rank"
          FROM scored)
        SELECT doc_id, dl, CAST(su AS DOUBLE) / 1e9 AS score, CAST("rank" AS BIGINT) AS "rank"
        FROM top WHERE "rank" <= {k} ORDER BY "rank" """


def check_ingest(data, answers, keep):
    n = answers["arrivals"]
    con = duckdb.connect()
    con.execute("SET threads=2")
    files = ", ".join(f"'{data}/a{j:05d}.parquet'" for j in range(n))
    con.execute(f"""
        CREATE TABLE arr AS
        SELECT doc_id, text,
          CAST(regexp_extract(filename, 'a([0-9]+)\\.parquet', 1) AS INTEGER) AS fidx
        FROM read_parquet([{files}], filename = true)""")
    # the q_dedup_stream_ingest oracle: canonical text, 3-token shingle
    # sets, the first arrival (minimum id) of each distinct set survives
    con.execute(r"""
        CREATE TABLE surv AS
        WITH nrm AS (
          SELECT doc_id, fidx,
            trim(regexp_replace(nfc_normalize(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
          FROM arr),
        toks AS (SELECT *, string_split_regex(trim(lower(text)), '\s+') AS t FROM nrm),
        sh AS (
          SELECT doc_id, fidx, text, list_sort(list_distinct(list_transform(
            range(1, greatest(len(t) - 2, 0) + 1),
            i -> list_aggregate(list_slice(t, i, i + 2), 'string_agg', ' ')))) AS s
          FROM toks),
        keep AS (
          SELECT min(doc_id) AS doc_id FROM sh WHERE len(s) > 0 GROUP BY s
          UNION ALL SELECT doc_id FROM sh WHERE len(s) = 0)
        SELECT doc_id, fidx, text FROM sh WHERE doc_id IN (SELECT doc_id FROM keep)""")
    errors = []
    cols, ref = _query(con, "SELECT doc_id, fidx AS batch FROM surv ORDER BY doc_id")
    got = [{"doc_id": d, "batch": b} for d, b in sorted(answers["survivors"])]
    err = compare(got, cols, ref)
    if err:
        errors.append(f"survivors: {err}")
    for rd in answers["reads"]:
        cols, ref = _query(con, _bm25_sql(rd["terms"], rd["arrival"], keep["k"]))
        err = compare(rd["rows"], cols, ref)
        if err:
            errors.append(f"read {rd['terms']} after arrival {rd['arrival']}: {err}")
    return errors


CHECKS = {"htsql_interactive": check_htsql, "ingest_index": check_ingest}


def self_test():
    """The checker accepts a right answer and rejects three perturbed ones:
    a wrong value, a missing row and a truncated response."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, 'n' || range AS s, range / 7.0 AS x "
                "FROM range(30)")
    cols, ref = _query(con, "SELECT k, s, CAST(x AS DOUBLE) AS x FROM t ORDER BY k")
    good = json.dumps([dict(zip(cols, r)) for r in ref])
    rows = json.loads(good)
    wrong = [dict(r) for r in rows]
    wrong[17]["x"] = wrong[17]["x"] * (1 + 1e-6)
    missing = rows[:12] + rows[13:]
    truncated = good[: len(good) // 2]
    capped = json.dumps(rows[:20])

    def verdict(body):
        r, err = parse_body(body)
        return err or compare(r, cols, ref)

    cases = [("right answer", good, False), ("one wrong value", json.dumps(wrong), True),
             ("one missing row", json.dumps(missing), True),
             ("truncated response", truncated, True), ("capped response", capped, True)]
    ok = True
    for name, body, should_fail in cases:
        err = verdict(body)
        passed = (err is not None) == should_fail
        ok &= passed
        print(f"{'ok ' if passed else 'BAD'} {name}: "
              f"{'rejected: ' + err if err else 'accepted'}")
    return ok


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(0 if self_test() else 1)
    print(__doc__)
    sys.exit(2)
