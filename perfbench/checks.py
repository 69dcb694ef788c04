"""Output checks: every op's answer is compared with an expectation the
program did not compute. A wrong answer marks the op failed."""
import hashlib
import json
import os

import duckdb

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def canon(rel):
    """Canonical form of a result: sorted column names, row count and a
    dtype-sensitive value hash over rows sorted by every column. Mirrors
    tools/check.py, the repo's correctness gate."""
    df = rel.df()
    cols = sorted(df.columns)
    df = df[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    h = hashlib.sha256()
    for c in cols:
        for v in df[c].tolist():
            h.update(repr(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return {"cols": cols, "rows": len(df), "hash": h.hexdigest()}


def query_answers(data_dir, answers_dir, oracle_sql):
    """Canonical form of each warm-pass answer, and for each query the
    reason it is wrong (None when right) against the DuckDB oracle
    `SparkEntry.oracleSql` over the same corpus. A query without an
    oracle counts as wrong: every kernel the benchmark runs has one."""
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    got, wrong = {}, {}
    for q in sorted(os.listdir(answers_dir)):
        try:
            got[q] = canon(con.sql(f"SELECT * FROM '{answers_dir}/{q}/*.parquet'"))
            want = canon(con.sql(oracle_sql[q])) if q in oracle_sql else None
            if want is None:
                wrong[q] = "no oracle to check the answer against"
            elif want != got[q]:
                wrong[q] = f"answer {got[q]} != expected {want}"
            else:
                wrong[q] = None
        except Exception as e:  # an unhashable or unreadable answer is wrong
            wrong[q] = f"{type(e).__name__}: {e}"
    con.close()
    return got, wrong


# DuckDB twins of kgen.READS over nodes(label, uid, name) and
# edges(src_uid, dst_uid, rel_type). `?` binds the request's $name.
_HOP = """SELECT e.dst_uid FROM nodes w JOIN edges e ON e.src_uid = w.uid
          WHERE w.label = 'WasteItem' AND w.name = ?"""
READ_SQL = {
    "labels": "SELECT label, count(*) FROM nodes GROUP BY label",
    "streams": """SELECT s.name, count(*) FROM edges e
        JOIN nodes w ON w.uid = e.src_uid AND w.label = 'WasteItem'
        JOIN nodes s ON s.uid = e.dst_uid AND s.label = 'WasteStream'
        WHERE e.rel_type = 'DISPOSED_IN' GROUP BY s.name""",
    "orphans": """SELECT w.name FROM nodes w WHERE w.label = 'WasteItem'
        AND NOT EXISTS (SELECT 1 FROM edges e WHERE e.src_uid = w.uid
                        AND e.rel_type IN ('DISPOSED_IN', 'DISPOSED_AT'))""",
    "top_facilities": """SELECT f.name, count(*) AS c FROM edges e
        JOIN nodes f ON f.uid = e.dst_uid AND f.label = 'Facility'
        JOIN nodes w ON w.uid = e.src_uid AND w.label = 'WasteItem'
        WHERE e.rel_type = 'DISPOSED_AT' GROUP BY f.name
        ORDER BY c DESC, f.name LIMIT 10""",
    "sharing": """SELECT f.name, count(*) FROM nodes a
        JOIN edges e1 ON e1.src_uid = a.uid AND e1.rel_type = 'DISPOSED_AT'
        JOIN nodes f ON f.uid = e1.dst_uid AND f.label = 'Facility'
        JOIN edges e2 ON e2.dst_uid = f.uid AND e2.rel_type = 'DISPOSED_AT'
        JOIN nodes b ON b.uid = e2.src_uid AND b.label = 'WasteItem'
        WHERE a.label = 'WasteItem' AND a.name = ? AND b.name <> ?
        GROUP BY f.name""",
    "hop12": f"""WITH h1 AS ({_HOP}),
        h2 AS (SELECT e.dst_uid FROM h1 JOIN edges e ON e.src_uid = h1.dst_uid)
        SELECT DISTINCT t.label, t.name FROM
          (SELECT dst_uid FROM h1 UNION ALL SELECT dst_uid FROM h2) x
        JOIN nodes t ON t.uid = x.dst_uid""",
    "lookup": """SELECT w.uid, e.rel_type, t.name FROM nodes w
        JOIN edges e ON e.src_uid = w.uid JOIN nodes t ON t.uid = e.dst_uid
        WHERE w.label = 'WasteItem' AND w.name = ?""",
}


def _norm(rows):
    return sorted((tuple(r) for r in rows), key=repr)


class ChatOracle:
    """The saved store in DuckDB plus every write issued so far."""

    def __init__(self, store):
        self.con = duckdb.connect()
        self.con.sql(f"""CREATE TABLE base_nodes AS SELECT label, uid, name FROM
            read_parquet('{store}/nodes/*/*.parquet', hive_partitioning = true)""")
        self.con.sql(f"""CREATE TABLE base_edges AS SELECT src_uid, dst_uid, rel_type FROM
            read_parquet('{store}/edges/*/*.parquet', hive_partitioning = true)""")
        self.open()

    def open(self):
        """A new session sees the saved store without earlier writes."""
        self.con.sql("CREATE OR REPLACE TABLE nodes AS SELECT * FROM base_nodes")
        self.con.sql("CREATE OR REPLACE TABLE edges AS SELECT * FROM base_edges")

    def _node(self, label, name):
        r = self.con.execute("SELECT uid FROM nodes WHERE label = ? AND name = ?",
                             [label, name]).fetchone()
        return r[0] if r else None

    def write(self, tpl, p):
        if tpl == "merge_item":
            if self._node("WasteItem", p["name"]) is None:
                self.con.execute("INSERT INTO nodes VALUES ('WasteItem', ?, ?)",
                                 [p["uid"], p["name"]])
        elif tpl == "merge_disposed_in":
            item = self._node("WasteItem", p["item_name"])
            if item is None:
                return
            stream = self._node("WasteStream", p["stream_name"])
            if stream is None:
                stream = p["stream_uid"]
                self.con.execute("INSERT INTO nodes VALUES ('WasteStream', ?, ?)",
                                 [stream, p["stream_name"]])
            self.con.execute(
                """INSERT INTO edges SELECT ?, ?, 'DISPOSED_IN' WHERE NOT EXISTS
                   (SELECT 1 FROM edges WHERE src_uid = ? AND dst_uid = ?
                    AND rel_type = 'DISPOSED_IN')""", [item, stream, item, stream])
        else:
            raise ValueError(f"unknown write template {tpl}")

    def read(self, tpl, p):
        sql = READ_SQL[tpl]
        args = [p["name"]] * sql.count("?") if "?" in sql else []
        return _norm(self.con.execute(sql, args).fetchall())

    def check(self, op):
        """None if the op's answer is right, else why not; applies writes."""
        tpl, p = op["name"], op["params"] or {}
        if tpl == "open":
            self.open()
            return None
        if tpl in READ_SQL:
            want = self.read(tpl, p)
            got = _norm(op["result"])
            if got != want:
                return f"{tpl}{json.dumps(p, ensure_ascii=False)}: {got[:5]} != {want[:5]}"
            return None
        self.write(tpl, p)
        return None
