"""Answer oracle: expected results computed by DuckDB straight from the
generated source parquet, independent of the engine under test.

Tokenization follows the convention of the repository's SQL oracle rows:
``regexp_extract_all(lower(text), <letter/digit pattern>)`` unnested with
0-based positions from ``generate_subscripts``. BM25 is Lucene's
(k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5))), ties broken
by (conv_id, turn_idx). Corpus statistics count every document ever
added, tombstoned or not, as the engine does until compaction; results
leave tombstoned documents out.
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter

import duckdb

TOKEN_PATTERN = r"[\p{L}\p{N}]+"
K1, B = 1.2, 0.75


def score_x10000(score: float) -> int:
    """The comparison grain: score x 1e4, rounded half up."""
    import math

    return int(math.floor(score * 10000 + 0.5))


def topk_rows(df) -> list[list]:
    """An engine top-k DataFrame in the oracle's row form."""
    return [[r["conv_id"], int(r["turn_idx"]), score_x10000(r["score"])]
            for r in df.collect()]


class Oracle:
    """DuckDB tables ``docs``, ``tok``, ``tf`` and ``dl`` over one or more
    source parquet files, with a ``dead`` flag per document. Answers are
    memoized in ``cache_path`` (JSON) when one is given: they depend only
    on the inputs, never on the engine."""

    def __init__(self, db_path: str, cache_path: str | None = None):
        self.con = duckdb.connect(db_path)
        self.con.execute("SET threads = 4")
        self.con.execute("SET memory_limit = '1GB'")
        self.lock = threading.Lock()
        self.cache_path = cache_path
        self.cache: dict = {}
        if cache_path and os.path.exists(cache_path):
            with open(cache_path) as f:
                self.cache = json.load(f)

    def _has_docs(self) -> bool:
        return bool(self.con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name = 'docs'"
        ).fetchone()[0])

    def add_source(self, parquet: str) -> None:
        """Append one source file's turns (docs numbered after the
        existing ones, in (conv_id, turn_idx) order)."""
        src = f"read_parquet('{parquet}')"
        if not self._has_docs():
            self.con.execute(
                "CREATE TABLE docs (doc BIGINT, conv_id VARCHAR, turn_idx INTEGER, "
                "role VARCHAR, text VARCHAR, dead BOOLEAN)"
            )
            self.con.execute("CREATE TABLE tok (doc BIGINT, pos BIGINT, t VARCHAR)")
        base = self.con.execute("SELECT coalesce(max(doc) + 1, 0) FROM docs").fetchone()[0]
        self.con.execute(
            f"INSERT INTO docs SELECT {base} + row_number() OVER "
            f"(ORDER BY conv_id, turn_idx) - 1, conv_id, turn_idx, role, text, false "
            f"FROM {src}"
        )
        toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
        self.con.execute(
            f"INSERT INTO tok SELECT doc, generate_subscripts({toks}, 1) - 1, "
            f"unnest({toks}) FROM docs WHERE doc >= {base}"
        )
        self.con.execute(
            "CREATE OR REPLACE TABLE dl AS SELECT d.doc, count(t.doc) AS dl "
            "FROM docs d LEFT JOIN tok t USING (doc) GROUP BY d.doc"
        )
        # term-sorted (t, doc, tf): zone maps prune the BM25 term filter
        self.con.execute(
            "CREATE OR REPLACE TABLE tf AS SELECT t, doc, count(*) AS tf "
            "FROM tok GROUP BY t, doc ORDER BY t"
        )

    def delete(self, keys: list[tuple[str, int]]) -> None:
        self.con.executemany(
            "UPDATE docs SET dead = true WHERE conv_id = ? AND turn_idx = ?", keys
        )

    def _memo(self, key: str, fn):
        with self.lock:
            if key not in self.cache:
                self.cache[key] = fn()
            return self.cache[key]

    def save(self) -> None:
        if self.cache_path:
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)

    # ---- BM25 ------------------------------------------------------------
    def bm25(self, query: str, k: int = 10, role: str | None = None) -> list[list]:
        """Top-k as [conv_id, turn_idx, score_x10000] rows."""
        def run():
            import re

            terms = Counter(re.findall(r"[^\W_]+", query.lower()))
            if not terms:
                return []
            values = ", ".join(f"('{t}', {n})" for t, n in terms.items())
            where = "NOT d.dead"
            if role is not None:
                where += f" AND d.role = '{role}'"
            rows = self.con.execute(f"""
                WITH q(t, qtf) AS (VALUES {values}),
                stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
                qtf AS (SELECT doc, t, tf FROM tf WHERE t IN ({", ".join(f"'{t}'" for t in terms)})),
                df AS (SELECT t, count(*) AS df FROM qtf GROUP BY t),
                scores AS (
                  SELECT qtf.doc, sum(q.qtf * ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                         * qtf.tf / (qtf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))) AS score
                  FROM qtf JOIN q USING (t) JOIN df USING (t) JOIN dl USING (doc)
                  CROSS JOIN stats GROUP BY qtf.doc)
                SELECT d.conv_id, d.turn_idx, s.score FROM scores s JOIN docs d USING (doc)
                WHERE {where}
                ORDER BY s.score DESC, d.conv_id, d.turn_idx LIMIT {int(k)}
            """).fetchall()
            return [[c, int(t), score_x10000(s)] for c, t, s in rows]

        return self._memo(f"bm25|{query}|{k}|{role}", run)

    # ---- spans -----------------------------------------------------------
    def pattern(self, spec: dict) -> dict:
        """{"hits", "docs", "by_role": {role: hits}} of one pool pattern
        (see gen.cql_patterns)."""
        def run():
            if spec["kind"] == "regex":
                hits = "SELECT doc FROM tok WHERE regexp_full_match(t, ?)"
                args = [spec["a"]]
            else:
                gap = "y.pos = x.pos + 1" if spec["kind"] == "phrase" else \
                    "y.pos BETWEEN x.pos + 2 AND x.pos + 4"
                hits = (
                    "SELECT x.doc FROM tok x JOIN tok y ON y.doc = x.doc AND "
                    f"{gap} WHERE x.t = ? AND y.t = ?"
                )
                args = [spec["a"], spec["b"]]
            return self._counts(hits, args)

        return self._memo(f"patt|{spec['patt']}", run)

    def term_hits(self, t: str) -> dict:
        return self._counts("SELECT doc FROM tok WHERE t = ?", [t])

    def _counts(self, hits_sql: str, args: list) -> dict:
        rows = self.con.execute(
            f"SELECT d.role, count(*), count(DISTINCT h.doc) FROM ({hits_sql}) h "
            "JOIN docs d USING (doc) "
            "WHERE NOT d.dead "
            "GROUP BY d.role",
            args,
        ).fetchall()
        return {
            "hits": sum(r[1] for r in rows),
            "docs": sum(r[2] for r in rows),
            "by_role": {r[0]: r[1] for r in rows},
        }

    # ---- terms and documents ----------------------------------------------
    def term_freqs(self, terms: list[str]) -> dict[str, int]:
        key = "cf|" + ",".join(terms)
        return self._memo(key, lambda: dict(self.con.execute(
            "SELECT t, count(*) FROM tok WHERE list_contains(?, t) GROUP BY t",
            [terms],
        ).fetchall()))

    def autocomplete(self, prefix: str, n: int = 20) -> list[str]:
        return self._memo(f"ac|{prefix}|{n}", lambda: [r[0] for r in self.con.execute(
            "SELECT DISTINCT t FROM tok WHERE starts_with(t, ?) ORDER BY t LIMIT ?",
            [prefix, n],
        ).fetchall()])

    def contents(self, pid: str, hl: str) -> dict:
        """Source text of one document and how often ``hl`` occurs in it."""
        conv_id, _, turn = pid.rpartition("/")

        def run():
            text, doc = self.con.execute(
                "SELECT text, doc FROM docs WHERE conv_id = ? AND turn_idx = ?",
                [conv_id, int(turn)],
            ).fetchone()
            n = self.con.execute(
                "SELECT count(*) FROM tok WHERE doc = ? AND t = ?", [doc, hl]
            ).fetchone()[0]
            return {"text": text, "hl": n}

        return self._memo(f"doc|{pid}|{hl}", run)

    def pids(self, n: int, seed: int) -> list[str]:
        """``n`` document pids, a fixed sample of the corpus."""
        rows = self.con.execute(
            f"SELECT conv_id, turn_idx FROM docs USING SAMPLE reservoir({int(n)} ROWS) "
            f"REPEATABLE ({int(seed)}) ORDER BY conv_id, turn_idx"
        ).fetchall()
        return [f"{c}/{t}" for c, t in rows]

    def close(self) -> None:
        self.con.close()
