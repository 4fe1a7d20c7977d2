"""Output checks: DuckDB over the committed parquet files is the oracle.

Every check runs after the timer of the operation it checks has
stopped. Each returns a list of failure messages (empty when the
output is right), so the caller can count failed operations.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os

import duckdb

from catalog import OPENML_PREFIX, SUBJECT_PREFIX

# Spark's BM25 (operators.search.bm25_rank) restated in SQL: Lucene idf,
# k1=1.2, b=0.75, per-term contributions summed in query-term order.
_K1, _B = 1.2, 0.75


class Oracle:
    def __init__(self, lake_root: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        store = os.path.join(lake_root, "store")
        for name, path in (
            ("triplet", os.path.join(store, "triplet")),
            ("info", os.path.join(store, "extraction_info")),
            ("vr", os.path.join(store, "version_range")),
            ("docs", os.path.join(lake_root, "docs")),
        ):
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
            )
        self.con.execute(
            "CREATE OR REPLACE VIEW cur AS SELECT t.subject, t.predicate, t.object FROM triplet t "
            "JOIN (SELECT DISTINCT triplet_hash FROM vr WHERE NOT deprecated) USING (triplet_hash)"
        )

    def close(self) -> None:
        self.con.close()

    def _one(self, sql: str, params=()) -> int:
        return self.con.execute(sql, params).fetchone()[0]

    # ---- store-level checks ----
    def scd2_failures(self) -> list[str]:
        out = []
        bad = self._one("SELECT count(*) FROM vr WHERE use_start > use_end")
        if bad:
            out.append(f"{bad} ranges with use_start > use_end")
        dup = self._one(
            "SELECT count(*) FROM (SELECT triplet_hash, info_hash FROM vr WHERE NOT deprecated "
            "GROUP BY 1, 2 HAVING count(*) > 1)"
        )
        if dup:
            out.append(f"{dup} (triplet_hash, info_hash) keys with more than one open range")
        orphan_t = self._one(
            "SELECT count(*) FROM vr WHERE triplet_hash NOT IN (SELECT triplet_hash FROM triplet)"
        )
        orphan_i = self._one("SELECT count(*) FROM vr WHERE info_hash NOT IN (SELECT info_hash FROM info)")
        if orphan_t or orphan_i:
            out.append(f"ranges without their row: {orphan_t} triplet, {orphan_i} extraction_info")
        return out

    def current_model_triples(self) -> int:
        return self._one(
            "SELECT count(*) FROM cur WHERE starts_with(subject, ?) OR starts_with(subject, ?)",
            (SUBJECT_PREFIX, OPENML_PREFIX),
        )

    def current_triples(self) -> int:
        return self._one("SELECT count(*) FROM cur")

    def range_stats(self, batch_time: dt.datetime) -> dict[str, int]:
        """Range rows after a commit, and how many of them the batch at
        ``batch_time`` opened or extended; plus the deprecated total."""
        row = self.con.execute(
            "SELECT count(*), "
            "count(*) FILTER (WHERE use_start = ?), "
            "count(*) FILTER (WHERE use_start < ? AND use_end = ? AND NOT deprecated), "
            "count(*) FILTER (WHERE deprecated) FROM vr",
            (batch_time, batch_time, batch_time),
        ).fetchone()
        return {"range_rows": row[0], "opened": row[1], "extended": row[2], "deprecated": row[3]}

    # ---- reads ----
    def read(self, op: str, args: tuple) -> list[tuple]:
        if op == "lookup":
            sql = "SELECT db_identifier, name, license, library, description FROM docs WHERE db_identifier = ?"
            params = args
        elif op == "history":
            sql = (
                "SELECT t.subject, t.predicate, t.object, v.use_start, v.use_end, v.deprecated, "
                "i.extraction_method, i.extraction_confidence FROM triplet t "
                "JOIN vr v ON t.triplet_hash = v.triplet_hash JOIN info i ON v.info_hash = i.info_hash "
                "WHERE t.subject = ?"
            )
            params = args
        elif op == "search_prefix":
            q, license_ = args[0].lower(), args[1].lower()
            sql = (
                "SELECT db_identifier, name, license, library, description, "
                "round(CASE WHEN lower(name) = $q THEN 2.0 ELSE 1.0 END + 1.0 / (length(name) + 1.0), 6) AS score "
                "FROM docs WHERE (list_contains(name_prefixes, $q) OR lower(name) = $q) AND license = $lic "
                "ORDER BY score DESC, db_identifier ASC LIMIT 20"
            )
            params = {"q": q, "lic": license_}
        elif op == "search_bm25":
            terms = [t.lower() for t in args]
            dfs = ", ".join(
                f"sum(CASE WHEN list_contains(toks, ${i}) THEN 1 ELSE 0 END) AS df{i}"
                for i in range(1, len(terms) + 1)
            )
            contrib = " + ".join(
                f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {_K1 + 1.0} "
                f"/ (tf{i} + {_K1} * (1.0 - {_B} + {_B} * dl / (sdl / n)))"
                for i in range(1, len(terms) + 1)
            )
            tfs = ", ".join(
                f"CAST(len(list_filter(toks, x -> x = ${i})) AS DOUBLE) AS tf{i}"
                for i in range(1, len(terms) + 1)
            )
            sql = (
                "WITH d AS (SELECT db_identifier, string_split_regex(lower(trim(description)), '\\s+') AS toks "
                "FROM docs), "
                "d2 AS (SELECT db_identifier, toks, CAST(len(toks) AS DOUBLE) AS dl FROM d), "
                f"st AS (SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS sdl, {dfs} FROM d2), "
                f"s AS (SELECT db_identifier, round(0.0 + {contrib}, 6) AS score "
                f"FROM (SELECT db_identifier, dl, {tfs}, st.* FROM d2, st)) "
                "SELECT db_identifier, score, row_number() OVER (ORDER BY score DESC, db_identifier) AS rank "
                "FROM s WHERE score > 0 ORDER BY score DESC, db_identifier LIMIT 20"
            )
            params = terms
        elif op == "graph_at":
            sql = (
                "SELECT t.subject, t.predicate, t.object FROM triplet t JOIN (SELECT DISTINCT triplet_hash "
                "FROM vr WHERE use_start <= ? AND use_end >= ?) USING (triplet_hash)"
            )
            params = (args[0], args[0])
        elif op == "changes_between":
            return self.changes(*args)
        elif op == "counts":
            sql = "SELECT count(DISTINCT subject), count(*) FROM cur"
            params = ()
        else:
            raise ValueError(f"unknown read op {op!r}")
        return self.con.execute(sql, params).fetchall()

    def changes(self, lo, hi) -> list[tuple]:
        """``versioned_store.changes_between`` event feed (net=False)."""
        return self.con.execute(
            "SELECT t.subject, t.predicate, t.object, c.change FROM ("
            "SELECT DISTINCT triplet_hash, 'added' AS change FROM vr "
            "WHERE ($lo IS NULL OR use_start > $lo) AND use_start <= $hi "
            "UNION ALL SELECT DISTINCT triplet_hash, 'removed' FROM vr "
            "WHERE deprecated AND ($lo IS NULL OR use_end >= $lo) AND use_end < $hi"
            ") c JOIN triplet t USING (triplet_hash)",
            {"lo": lo, "hi": hi},
        ).fetchall()


def _canon(v):
    if isinstance(v, float):
        return round(v, 4)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def content_hash(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows' values."""
    canon = sorted(repr(tuple(_canon(v) for v in tuple(r))) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def read_failures(op: str, args: tuple, got_rows, oracle: Oracle) -> list[str]:
    got = content_hash(got_rows)
    want = content_hash(oracle.read(op, args))
    if got != want:
        return [f"{op}{args!r}: spark {got[0]} rows / {got[1][:12]}, duckdb {want[0]} rows / {want[1][:12]}"]
    return []


def text_lines(directory: str) -> tuple[int, int]:
    """(line count, bytes) of the text part files under ``directory``."""
    n = size = 0
    for p in glob.glob(os.path.join(directory, "part-*")):
        size += os.path.getsize(p)
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n, size
