"""The corpora the serving workloads (bm25_topk, bls_mixed) query.

Each is generated from a fixed corpus seed, indexed once per checkout with
``Corpus.build`` and reused by every later run, like a compiled binary:
index building is measured by the ingest cycle (ingest.py), so a
serving run's set-up covers session start, ``Corpus.open`` and warm-up
only. The run's ``--seed`` picks the queries.

What is reused is keyed on what made it. The source parquet, the oracle
database and its answers live in ``serve-<turns>-<key>``, keyed on the
bytes of gen.py and oracle.py; the index lives below it in
``index-<key>``, keyed also on every file of the engine
(``blacklab_spark/**``). A checkout with other engine code therefore
times an index its own code built, and other oracle code never reads
answers an earlier oracle cached.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

import common
import gen
from oracle import Oracle

CORPUS_SEED = 20_251_016


def _key(paths: list[str], salt: str = "") -> str:
    """Hash of ``salt`` and the names and bytes of ``paths``: files, or
    directories with every file below them but byte-code caches."""
    h = hashlib.sha1(salt.encode())
    for path in paths:
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            if "__pycache__" not in d.split(os.sep) for f in fs)
        for name in files:
            h.update(os.path.relpath(name, common.ROOT).encode() + b"\0")
            with open(name, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


# bm25_topk's corpus is large enough for head-term postings to load the
# scoring kernel; bls_mixed's is smaller because every request scans it
# and concurrent requests share four cores
BM25_TURNS = 200_000
BLS_TURNS = 50_000
# turns -> whether the CQL pattern pool is answered for it
CORPORA = {BM25_TURNS: False, BLS_TURNS: True}


def ensure_all() -> None:
    """Prepare every serving corpus the checkout lacks, in one child
    process with its own Spark session: the first run of any workload
    pays for all of them, and the measuring process starts as cold
    after a preparation as without one."""
    if not all(Serving(t).ready() for t in CORPORA):
        subprocess.run([sys.executable, os.path.abspath(__file__)], check=True, timeout=840)


class Serving:
    def __init__(self, turns: int):
        self.turns = turns
        data_key = _key([os.path.join(common.BENCH_DIR, f) for f in ("gen.py", "oracle.py")],
                        f"{turns}|{CORPUS_SEED}")
        self.dir = os.path.join(common.WORK, f"serve-{turns}-{data_key}")
        self.source = os.path.join(self.dir, "source.parquet")
        self.index = os.path.join(
            self.dir, f"index-{_key([os.path.join(common.ROOT, 'blacklab_spark')])}")
        self.oracle_db = os.path.join(self.dir, "oracle.duckdb")
        self.answers = os.path.join(self.dir, "answers.json")

    def data_ready(self) -> bool:
        return os.path.exists(self.answers)

    def ready(self) -> bool:
        return self.data_ready() and os.path.exists(os.path.join(self.index, "meta.json"))

    def prepare(self, spark, patterns: bool) -> None:
        """Generate the corpus, load the oracle, index it with
        ``Corpus.build``; with ``patterns`` also answer the CQL pattern
        pool."""
        from blacklab_spark.corpus import Corpus

        if not self.data_ready():
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            gen.write_parquet(gen.corpus(self.turns, CORPUS_SEED), self.source)
            o = Oracle(self.oracle_db, cache_path=self.answers)
            try:
                o.add_source(self.source)
                if patterns:
                    for p in gen.cql_patterns():
                        o.pattern(p)
                o.save()
            finally:
                o.close()
        tmp = self.index + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        Corpus.build(spark, spark.read.parquet(self.source), tmp)
        os.replace(tmp, self.index)

    def oracle(self) -> Oracle:
        return Oracle(self.oracle_db, cache_path=self.answers)


if __name__ == "__main__":
    common.prepare_env()
    session, _ = common.start_spark()
    try:
        for turns, patterns in CORPORA.items():
            if not Serving(turns).ready():
                Serving(turns).prepare(session, patterns)
    finally:
        common.stop_spark(session)
