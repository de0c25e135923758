"""Output checks for the benchmark, run with DuckDB after the timed region.

Each check the harness leaves in result.json names one operation's output.
An operation whose output differs from its oracle counts as failed.

- kafka: a spec's topic (key + JSON value) equals the DuckDB oracle of the
  same name below. Only one pass per topic is compared with the oracle;
  every other pass must hold the same multiset as that pass (checksum of
  key and value).
- index_recall: a stored-index search over the live corpus of its cycle
  keeps recall@10 >= 0.85 against the exact top-10 (the engine's IVF
  accuracy contract).
- novel_docs: the incremental screen keeps exactly the batch documents with
  no document of the live history at 3-shingle Jaccard >= 0.8.

index_maintenance writes both through the batch sink, so their fields are
read from the JSON value.
"""
import glob
import os
import sys

import duckdb

# spec_etl topic -> oracle over the staged tables. `key` is the record key
# the sink writes; every other column is a field of the JSON value.
ETL_ORACLES = {
    "events-out": """
        SELECT CAST(event_id AS VARCHAR) AS key, event_id, ts, user_id,
               event_type, value, props FROM events""",
    "orders-enriched": """
        SELECT CAST(o.o_custkey AS VARCHAR) AS key, o.o_orderkey AS order_id,
               o.o_totalprice AS total, c.c_name AS customer_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey""",
    "orders-3hop": """
        SELECT CAST(n.n_regionkey AS VARCHAR) AS key, o.o_orderkey AS order_id,
               o.o_totalprice AS total, n.n_name AS nation, r.r_name AS region
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey""",
    "customer-nation": """
        SELECT CAST(c.c_nationkey AS VARCHAR) AS key, c.c_custkey AS custkey,
               c.c_name AS name, n.n_name AS maybe_nation
        FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    "events-per-user": """
        SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS count
        FROM events GROUP BY user_id HAVING count(*) > 60""",
    "events-windowed": """
        SELECT event_type AS key, count(*) AS count, sum(value) AS sum_value,
               time_bucket(INTERVAL 10 MINUTE, ts) AS window_start
        FROM events GROUP BY event_type, window_start""",
    "events-routed": """
        SELECT CAST(event_id AS VARCHAR) AS key, event_id, ts, user_id,
               event_type, value, props FROM events WHERE event_type <> 'login'""",
    "events-purchases": """
        SELECT CAST(event_id AS VARCHAR) AS key, event_id, ts, user_id,
               event_type, value, props FROM events
        WHERE event_type <> 'login' AND event_type = 'purchase'""",
    "events-high-value": """
        SELECT CAST(event_id AS VARCHAR) AS key, event_id, ts, user_id,
               event_type, value, props FROM events
        WHERE event_type <> 'login' AND value > 900""",
}

FLOATY = {"FLOAT", "DOUBLE", "REAL"}
KNN_RECALL = 0.85
JACCARD = 0.8


def parquet(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise RuntimeError(f"no output under {path}")
    return f"read_parquet({files!r})"


def views(con, data_dir):
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{f}/**/*.parquet')")


def checksum(con, path):
    return con.execute(f"SELECT count(*), sum(hash(key, value)::HUGEINT) "
                       f"FROM {parquet(path)}").fetchone()


def kafka_vs_oracle(con, name, path):
    """Topic rows equal the oracle's, floats to 6 significant digits."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ora AS {ETL_ORACLES[name]}")
    cols = con.execute("DESCRIBE ora").fetchall()

    def field(col, typ):
        raw = f"json_extract_string(value, '$.{col}')"
        if typ.upper() in FLOATY:
            return f"printf('%.5e', CAST({raw} AS DOUBLE))"
        return f"CAST({raw} AS {typ})"

    def ora_field(col, typ):
        if typ.upper() in FLOATY:
            return f"printf('%.5e', CAST(\"{col}\" AS DOUBLE))"
        return f'CAST("{col}" AS {typ})'

    spk = ", ".join("key" if c == "key" else f'{field(c, t)} AS "{c}"' for c, t, *_ in cols)
    ora = ", ".join(f'{ora_field(c, t)} AS "{c}"' for c, t, *_ in cols)
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {spk} FROM {parquet(path)} EXCEPT ALL "
        f"SELECT {ora} FROM ora) UNION ALL (SELECT {ora} FROM ora EXCEPT ALL "
        f"SELECT {spk} FROM {parquet(path)}))").fetchone()[0]
    return diff == 0


def live_vectors(cycle):
    return f"""(SELECT vec_id, embedding FROM embeddings
                UNION ALL SELECT vec_id, embedding FROM vec_batches WHERE cycle <= {cycle})
               WHERE vec_id NOT IN (SELECT vec_id FROM vec_deletes WHERE cycle < {cycle})"""


def fields(path, *names):
    """The named BIGINT fields of a sink topic's JSON values."""
    cols = ", ".join(f"CAST(json_extract_string(value, '$.{n}') AS BIGINT) AS {n}"
                     for n in names)
    return f"(SELECT {cols} FROM {parquet(path)})"


def index_recall(con, path, cycle):
    exact = con.execute(f"""
        SELECT count(*) FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                   c.vec_id) AS rank
          FROM (SELECT * FROM queries WHERE cycle = {cycle}) q,
               (SELECT * FROM {live_vectors(cycle)}) c) e
        SEMI JOIN {fields(path, "query_id", "neighbor_id")} o
          ON e.query_id = o.query_id AND e.neighbor_id = o.neighbor_id
        WHERE e.rank <= 10""").fetchone()[0]
    queries = con.execute(f"SELECT count(*) FROM queries WHERE cycle = {cycle}").fetchone()[0]
    return exact >= KNN_RECALL * 10 * queries


SHINGLES = """list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
    ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END)"""


def novel_docs(con, path, cycle):
    expected = con.execute(f"""
        WITH hist AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM doc_retracts WHERE cycle < {cycle})
          UNION ALL SELECT doc_id, text FROM doc_batches WHERE cycle < {cycle}),
        batch AS (SELECT doc_id, text FROM doc_batches WHERE cycle = {cycle}),
        sh AS (
          SELECT doc_id AS id, side, {SHINGLES} AS s FROM (
            SELECT doc_id, 'old' AS side, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM hist
            UNION ALL SELECT doc_id, 'new', regexp_split_to_array(trim(text), '\\s+')
            FROM batch)),
        posts AS (SELECT id, side, unnest(s) AS tok FROM sh),
        n AS (SELECT id, len(s) AS n FROM sh),
        dup AS (
          SELECT DISTINCT p.new_id FROM (
            SELECT a.id AS new_id, b.id AS old_id, count(*) AS inter
            FROM posts a JOIN posts b ON a.tok = b.tok
            WHERE a.side = 'new' AND b.side = 'old' GROUP BY 1, 2) p
          JOIN n n1 ON p.new_id = n1.id JOIN n n2 ON p.old_id = n2.id
          WHERE p.inter::DOUBLE / (n1.n + n2.n - p.inter) >= {JACCARD})
        SELECT list(doc_id ORDER BY doc_id) FROM batch
        WHERE doc_id NOT IN (SELECT new_id FROM dup)""").fetchone()[0] or []
    got = con.execute(f"SELECT list(doc_id ORDER BY doc_id) FROM {fields(path, 'doc_id')}"
                      ).fetchone()[0] or []
    return list(expected) == list(got)


def run_checks(checks):
    """Return the set of operation ids whose output failed its check."""
    failed = set()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    current_data = None
    verified = {}  # reference path -> checksum, for passes compared to it
    for c in checks:
        params = c["params"]
        try:
            if params["data"] != current_data:
                views(con, params["data"])
                current_data = params["data"]
            kind = c["kind"]
            if kind == "kafka":
                ref = params["reference"]
                if ref not in verified:
                    verified[ref] = (checksum(con, ref)
                                     if kafka_vs_oracle(con, c["name"], ref) else None)
                ok = verified[ref] is not None and checksum(con, c["path"]) == verified[ref]
            elif kind == "index_recall":
                ok = index_recall(con, c["path"], int(params["cycle"]))
            elif kind == "novel_docs":
                ok = novel_docs(con, c["path"], int(params["cycle"]))
            else:
                raise ValueError(f"unknown check kind {kind}")
        except Exception as e:  # noqa: BLE001 - an unreadable output is a failed check
            print(f"[perfbench] check {c['name']} raised {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[perfbench] check failed: {c['kind']} {c['name']} {params['op']}",
                  file=sys.stderr)
            failed.add(params["op"])
    return failed
