"""Output checks run after the workload's JVM exits, in DuckDB over the
same Parquet inputs the workload read.

* every declared query key the workload ran: its dumped result must equal
  its oracle SQL's result, compared by tools/check_oracle.py (column names,
  row count, then every value in order);
* poll_drain: the delivered documents, collapsed by DocumentSink.deduplicated,
  must equal the distinct changed invoices in the delivered cursor ranges;
* stream_cold: the delivered documents must be one per entity per
  micro-batch, at the entity's newest version in that batch.
"""
import contextlib
import io
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402

# The document the poll path assembles (InvoiceCdc.projectDocument and the
# nested-lines array), rebuilt independently over the raw tables.
NESTED_LINES = """nested AS (
  SELECT l_orderkey AS invoice_id,
    to_json(list(struct_pack(
      line_no := CAST(l_linenumber AS BIGINT), part_key := l_partkey,
      qty := CAST(round(l_quantity, 0) AS BIGINT),
      price_cents := CAST(round(l_extendedprice * 100, 0) AS BIGINT))
      ORDER BY l_linenumber, l_partkey,
        CAST(round(l_quantity, 0) AS BIGINT),
        CAST(round(l_extendedprice * 100, 0) AS BIGINT))) AS lines
  FROM lineitem GROUP BY l_orderkey)"""

DOC_SELECT = """SELECT k.invoice_id, k.change_version,
  'INV-' || lpad(CAST(o.o_orderkey AS VARCHAR), 9, '0') AS invoice_number,
  coalesce(n.lines, '[]') AS lines
FROM keys k JOIN orders o ON k.invoice_id = o.o_orderkey
LEFT JOIN nested n ON k.invoice_id = n.invoice_id
ORDER BY k.invoice_id, k.change_version"""


def _connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    return con


def _canon(df):
    return check_oracle.canon(df.itertuples(index=False, name=None))


def _compare(name, got, want):
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return (name, False, f"columns {list(got.columns)} != {list(want.columns)}")
    if len(got) != len(want):
        return (name, False, f"rows {len(got)} != {len(want)}")
    g, w = _canon(got), _canon(want)
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b][:3]
    if bad:
        return (name, False, f"value mismatch at rows {bad}: "
                             f"{[g[i] for i in bad]} != {[w[i] for i in bad]}")
    return (name, True, f"{len(got)} rows")


def _docs(con, path):
    return con.execute(
        f"SELECT invoice_id, change_version, invoice_number, lines FROM "
        f"read_parquet('{path}/*.parquet') "
        f"ORDER BY invoice_id, change_version").df()


def check_poll(con, facts):
    ranges = facts["poll_ranges"]
    if not ranges:
        return ("poll_docs", False, "no page was delivered")
    con.execute("CREATE TABLE ranges (fv BIGINT, fid BIGINT, tv BIGINT, tid BIGINT)")
    con.executemany("INSERT INTO ranges VALUES (?, ?, ?, ?)", ranges)
    want = con.execute(f"""WITH feeds AS (
        SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        UNION ALL SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem),
      agg AS (SELECT invoice_id, max(change_version) AS change_version
              FROM feeds GROUP BY invoice_id),
      keys AS (SELECT * FROM agg a WHERE EXISTS (SELECT 1 FROM ranges r WHERE
        (a.change_version > r.fv OR (a.change_version = r.fv AND a.invoice_id > r.fid))
        AND (a.change_version < r.tv OR (a.change_version = r.tv AND a.invoice_id <= r.tid)))),
      {NESTED_LINES}
      {DOC_SELECT}""").df()
    return _compare("poll_docs", _docs(con, facts["poll_docs"]), want)


def check_stream(con, facts):
    pv = int(facts["page_versions"])
    want = con.execute(f"""WITH lo AS (SELECT min(event_id) AS v0 FROM events),
      keys AS (SELECT user_id AS invoice_id, max(event_id) AS change_version
               FROM events, lo GROUP BY (event_id - v0) // {pv}, user_id),
      {NESTED_LINES}
      {DOC_SELECT}""").df()
    return _compare("stream_docs", _docs(con, facts["stream_docs"]), want)


def check_oracles(data, oracle_dir):
    """tools/check_oracle.py over the run's dumps; its report is the detail."""
    report = io.StringIO()
    with contextlib.redirect_stdout(report):
        rc = check_oracle.main(data, oracle_dir)
    lines = [l for l in report.getvalue().splitlines() if l.strip()]
    bad = [l for l in lines if not l.startswith("PASS")][:-1]
    return ("oracles", rc == 0, "; ".join(bad + lines[-1:]))


def run_all(res, data):
    """[(name, ok, detail)] for every check of one run's result."""
    out = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    facts = res["facts"]
    con = _connect(data)
    try:
        if "poll_docs" in facts:
            out.append(check_poll(con, facts))
        if "stream_docs" in facts:
            out.append(check_stream(con, facts))
        if "oracle_dir" in facts:
            out.append(check_oracles(data, facts["oracle_dir"]))
    finally:
        con.close()
    return out
