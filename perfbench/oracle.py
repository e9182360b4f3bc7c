"""Independent DuckDB oracle for the benchmark's correctness checks.

The CDC expectation is last-write-wins by ``seq`` per ``(repo, path)``,
computed by DuckDB straight from the binlog parquet for any prefix of
epochs. The final-state checks are ``bench/validate_1e8.py``'s: per-repo
(rows, sum(last_seq)) and a sha256 sample over (repo, path, commit, lang,
content sha256, last_seq). Registry outputs are compared with the results
of ``__spark_entry__.oracle_sql()`` on the same tables with
``tests/oracle_utils.compare``, as ``tests/test_entry_oracle.py`` does.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from tests.oracle_utils import compare, duck_connect

#: sha256 sample: live rows whose last_seq is a multiple of this
SAMPLE_MOD = 97


class TimedCheckpoint(CheckpointStore):
    """A checkpoint store that remembers when each commit returned."""

    def __init__(self, path: str):
        super().__init__(path)
        self.commit_times: list[float] = []

    def commit(self, *args, **kwargs) -> None:
        super().commit(*args, **kwargs)
        self.commit_times.append(time.perf_counter())


def engine_frames(state):
    """Per-repo (rows, sum_seq) and the sorted sha256 sample of a table read."""
    from pyspark.sql import functions as F

    per_repo = (
        state.groupBy("repo")
        .agg(F.count("*").alias("rows"), F.sum("last_seq").alias("sum_seq"))
        .toPandas().sort_values("repo").reset_index(drop=True)
    )
    sample = sorted(
        r[0] for r in state.filter(F.col("last_seq") % SAMPLE_MOD == 0).select(
            F.sha2(F.concat_ws("|", "repo", "path", "commit", "lang", "content_sha256",
                               F.col("last_seq").cast("string")), 256)
        ).collect()
    )
    return per_repo, sample


class State:
    """The expected table after the binlog's epochs ``0..epoch``."""

    def __init__(self, con: duckdb.DuckDBPyConnection, binlog_glob: str, epoch: int):
        self.con = con
        self.glob = binlog_glob
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE w AS
            SELECT * FROM ev WHERE epoch <= {int(epoch)}
            QUALIFY row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) = 1"""
        )
        con.execute("CREATE OR REPLACE TEMP TABLE live AS SELECT * FROM w WHERE op <> 'delete'")
        self.n_keys = con.execute("SELECT count(*) FROM w").fetchone()[0]

    def sample_keys(self, rng: np.random.Generator, k: int) -> list[tuple[str, str]]:
        """``k`` keys seen so far (deleted ones included), drawn by ``rng``."""
        out = []
        for i in sorted(rng.integers(0, self.n_keys, k).tolist()):
            out.append(self.con.execute(
                f"SELECT repo, path FROM w ORDER BY repo, path LIMIT 1 OFFSET {i}").fetchone())
        return out

    def lookup_ok(self, repo: str, path: str, rows) -> bool:
        hit = self.con.execute(
            "SELECT seq FROM live WHERE repo = ? AND path = ?", [repo, path]).fetchall()
        return sorted(r["last_seq"] for r in rows) == [h[0] for h in hit]

    def scan(self, lo: str, hi: str) -> tuple[int, int, int]:
        n, s, b = self.con.execute(
            "SELECT count(*), sum(seq), sum(clen) FROM live WHERE repo BETWEEN ? AND ?",
            [lo, hi]).fetchone()
        return int(n), int(s or 0), int(b or 0)

    def mv_ok(self, rows) -> bool:
        want = self.con.execute(
            "SELECT repo, count(*), sum(clen) FROM live GROUP BY repo ORDER BY repo").fetchall()
        got = sorted((r["repo"], int(r["n_paths"]), int(r["total_bytes"])) for r in rows)
        return got == [(r, int(n), int(b)) for r, n, b in want]

    def per_repo_ok(self, frame) -> bool:
        want = self.con.execute(
            "SELECT repo, count(*), sum(seq) FROM live GROUP BY repo ORDER BY repo").fetchall()
        got = [(r, int(n), int(s)) for r, n, s in frame[["repo", "rows", "sum_seq"]].itertuples(index=False)]
        return got == [(r, int(n), int(s)) for r, n, s in want]

    def sha_sample(self) -> list[str]:
        return sorted(r[0] for r in self.con.execute(
            f"""SELECT sha256(b.repo || '|' || b.path || '|' || b.commit || '|' || b.lang
                       || '|' || sha256(b.content) || '|' || CAST(b.seq AS VARCHAR))
            FROM read_parquet('{self.glob}', hive_partitioning=1) b
            JOIN live l ON b.seq = l.seq
            WHERE l.seq % {SAMPLE_MOD} = 0""").fetchall())


class Oracle:
    """DuckDB connection holding the binlog's change index and the
    registry subset's expected results, both computed at set-up."""

    def __init__(self, binlog_dir: str, sf_dir: str, entries: list[str], tmp_dir: str):
        import __spark_entry__

        self.con = duckdb.connect()
        self.con.execute("SET memory_limit='1GB'")
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        self.glob = os.path.join(binlog_dir, "epoch=*", "*.parquet")
        self.con.execute(
            f"""CREATE TABLE ev AS
            SELECT CAST(epoch AS BIGINT) AS epoch, seq, op, repo, path,
                   strlen(coalesce(content, '')) AS clen
            FROM read_parquet('{self.glob}', hive_partitioning=1)"""
        )
        # expected registry results, materialized once
        self.reg = duck_connect(sf_dir)
        sql = __spark_entry__.oracle_sql()
        for name in entries:
            self.reg.execute(f"CREATE TABLE expected_{name} AS {sql[name]}")

    def state(self, epoch: int) -> State:
        return State(self.con, self.glob, epoch)

    def registry_mismatches(self, name: str, df) -> list[str]:
        return compare(df, self.reg, f"SELECT * FROM expected_{name}")

    def close(self) -> None:
        self.con.close()
        self.reg.close()
