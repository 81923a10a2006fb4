"""Seeded inputs, pipeline configs and output checks for the benchmark.

Every workload is generated from ``--seed`` alone: the same seed writes the
same files. The pipeline receives only those files (or tables registered
from them); the expected outputs are computed independently: in DuckDB for
``upsert``, and from the generator's planted structure for ``curate``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input properties per workload. upsert is sized so one run takes about
# three seconds on four cores; curate's run time (about 7 s) is set by its
# job count more than by its input size (1200 docs took about 9 s).
#
# The shares below are not measured from any corpus or update stream and
# are not claimed to be representative. Each was chosen only so that a run
# takes every branch of the code under test: near-duplicate clusters
# (exact and edited) give the connected-components loop and the
# best-of-component survivor choice components to resolve, symbol-heavy
# documents give the quality filter rows to drop, and the update, repeat
# and bucket shares make the merge sink replace rows, collapse in-batch
# repeats and leave some buckets untouched.
PARAMS: dict[str, dict] = {
    "curate": {
        "docs": 400,
        "vocab": 4_000,
        "words": (60, 120),
        "dup_share": 0.15,  # share of docs that are planted near-duplicates
        "exact_dup_share": 0.3,  # of those, share that are exact copies
        "low_quality_share": 0.10,  # symbol-heavy docs the filter removes
    },
    "upsert": {
        "target_rows": 200_000,
        "delta_rows": 40_000,
        "buckets": 32,
        "touched_share": 0.25,  # buckets the delta's keys hash into
        "update_share": 0.5,  # delta keys already present in the target
        "in_batch_dup_share": 0.1,  # delta rows repeating a delta key
    },
}


def _except_both(con, got: str, want: str) -> int:
    """Rows in either relation that the other lacks (multiset difference)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (FROM ({got}) EXCEPT ALL FROM ({want}))) + "
        f"(SELECT count(*) FROM (FROM ({want}) EXCEPT ALL FROM ({got})))"
    ).fetchone()[0]


@dataclass
class Workload:
    """One workload: inputs under ``data``, one output directory per run."""

    name: str
    seed: int
    data: Path
    params: dict = field(init=False)
    input_rows: int = 0
    input_bytes: int = 0

    def __post_init__(self) -> None:
        self.params = PARAMS[self.name]
        self.data.mkdir(parents=True, exist_ok=True)

    def rng(self) -> np.random.Generator:
        return np.random.default_rng([self.seed, sorted(PARAMS).index(self.name)])

    # subclass hooks -------------------------------------------------------
    def generate(self, spark) -> None:
        raise NotImplementedError

    def config(self, out: Path) -> dict:
        raise NotImplementedError

    def tables(self, spark) -> dict:
        return {}

    def variables(self, out: Path) -> dict:
        return {}

    def prepare(self, out: Path) -> None:
        """Reset per-run state before the timed region."""

    def check(self, con, out: Path) -> list[str]:
        raise NotImplementedError


class Curate(Workload):
    """config-curation.json shape: text_metrics -> minhash dedup with
    best_of_component -> filter -> select -> parquet, over a corpus with
    planted near-duplicate clusters and planted low-quality documents."""

    def generate(self, spark) -> None:
        p, rng = self.params, self.rng()
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab: set[str] = set()
        while len(vocab) < p["vocab"]:
            vocab.add("".join(letters[rng.integers(0, 26, rng.integers(3, 10))]))
        vocab_arr = np.array(sorted(vocab))
        # a skewed word frequency, so documents share common words; the
        # exponent is a choice, not a fit to any corpus
        zipf = np.arange(1, len(vocab_arr) + 1, dtype=np.float64) ** -0.8
        zipf /= zipf.sum()
        # random symbol runs of 13-16 characters: zero alpha ratio and an
        # out-of-range mean word length put these far below the 0.5 floor,
        # and random runs keep them from being near-duplicates of each other
        symbols = np.array(list("!#$%&()*+,-./:;<=>?@[]^_{|}~"))
        lo, hi = p["words"]

        def words(k: int) -> list[str]:
            return list(vocab_arr[rng.choice(len(vocab_arr), k, p=zipf)])

        n = p["docs"]
        n_dup = int(n * p["dup_share"])
        n_low = int(n * p["low_quality_share"])
        texts: list[str] = []
        group: list[int] = []  # planted cluster id; singletons get their own
        kind: list[str] = []  # "base" | "dup" | "low"
        bases: list[list[str]] = []
        for _ in range(n - n_dup - n_low):
            w = words(int(rng.integers(lo, hi + 1)))
            bases.append(w)
            texts.append(" ".join(w))
            group.append(len(group))
            kind.append("base")
        # each of n_dup / 2 bases gets two variants: clusters of three
        heads = rng.choice(len(bases), max(1, n_dup // 2), replace=False)
        for j in range(n_dup):
            b = int(heads[j % len(heads)])
            w = list(bases[b])
            if rng.random() >= p["exact_dup_share"]:
                for pos in rng.choice(len(w), 2, replace=False):
                    w[pos] = str(vocab_arr[rng.integers(0, len(vocab_arr))])
            texts.append(" ".join(w))
            group.append(b)
            kind.append("dup")
        for _ in range(n_low):
            k = int(rng.integers(lo, hi + 1))
            texts.append(" ".join(
                "".join(symbols[rng.integers(0, len(symbols), rng.integers(13, 17))])
                for _ in range(k)
            ))
            group.append(len(group))
            kind.append("low")
        order = rng.permutation(n)
        ids = np.arange(1, n + 1)
        pq.write_table(
            pa.table({"doc_id": ids, "text": [texts[i] for i in order]}),
            self.data / "documents.parquet",
        )
        pq.write_table(
            pa.table({"doc_id": ids, "grp": np.array(group)[order],
                      "kind": np.array(kind)[order]}),
            self.data / "planted.parquet",
        )
        self.input_rows, self.input_bytes = n, (self.data / "documents.parquet").stat().st_size

    def config(self, out: Path) -> dict:
        return {
            "extractor": {"parquet": {"path": "$inputPath"}},
            "transformers": [
                {"text_metrics": {"textField": "text"}},
                {"dedup": {"method": "minhash", "textField": "text", "idField": "doc_id",
                           "numPerm": 128, "bands": 16, "threshold": 0.7,
                           "survivor": "best_of_component", "scoreField": "quality"}},
                {"filter": {"condition": "quality >= 0.5"}},
                {"select": {"columns": ["doc_id", "n_tokens", "quality", "lang_pred"]}},
            ],
            "loader": {"parquet": {"path": "$outputPath"}},
        }

    def variables(self, out: Path) -> dict:
        return {"inputPath": str(self.data / "documents.parquet"), "outputPath": str(out)}

    def check(self, con, out: Path) -> list[str]:
        """Invariants: survivors are input rows with distinct texts, every
        planted cluster keeps exactly one member, every unplanted normal
        document survives and no symbol-heavy document does."""
        d = self.data
        got = f"read_parquet('{out}/*.parquet')"
        bad = []
        stray, dup_ids = con.execute(
            f"""SELECT count(*) FILTER (WHERE i.doc_id IS NULL),
                       count(*) - count(DISTINCT g.doc_id)
                FROM {got} g LEFT JOIN read_parquet('{d}/documents.parquet') i
                USING (doc_id)"""
        ).fetchone()
        if stray:
            bad.append(f"{stray} survivors are not input documents")
        if dup_ids:
            bad.append(f"{dup_ids} survivor ids repeat")
        same_text = con.execute(
            f"""SELECT count(*) - count(DISTINCT i.text) FROM {got} g
                JOIN read_parquet('{d}/documents.parquet') i USING (doc_id)"""
        ).fetchone()[0]
        if same_text:
            bad.append(f"{same_text} survivors share an exact text")
        wrong_groups, low_kept, below = con.execute(
            f"""WITH kept AS (
                  SELECT p.grp, p.kind, g.quality FROM {got} g
                  JOIN read_parquet('{d}/planted.parquet') p USING (doc_id)),
                per AS (
                  SELECT p.grp, count(k.grp) AS n FROM
                  (SELECT DISTINCT grp FROM read_parquet('{d}/planted.parquet')
                   WHERE kind <> 'low') p
                  LEFT JOIN kept k USING (grp) GROUP BY p.grp)
                SELECT (SELECT count(*) FROM per WHERE n <> 1),
                       (SELECT count(*) FROM kept WHERE kind = 'low'),
                       (SELECT count(*) FROM kept WHERE quality < 0.5)"""
        ).fetchone()
        if wrong_groups:
            bad.append(f"{wrong_groups} planted clusters do not keep exactly one member")
        if low_kept:
            bad.append(f"{low_kept} low-quality documents survived")
        if below:
            bad.append(f"{below} survivors are below the quality floor")
        return bad


class Upsert(Workload):
    """parquet merge sink: a delta with a fixed share of existing keys,
    confined to a fixed share of the target's hash buckets."""

    def generate(self, spark) -> None:
        from pyspark.sql import functions as F

        p, rng = self.params, self.rng()
        n_t, n_d, nb = p["target_rows"], p["delta_rows"], p["buckets"]
        n_unique = int(round(n_d * (1 - p["in_batch_dup_share"])))
        n_upd = int(round(n_unique * p["update_share"]))
        n_new = n_unique - n_upd
        span = n_t + int(4 * n_new / p["touched_share"]) + 1000
        # bucket of every candidate key, computed with the same expression
        # the merge sink partitions by
        buckets = (
            spark.range(1, span + 1)
            .select(F.pmod(F.xxhash64("id"), F.lit(nb)).alias("b"))
            .toArrow()
            .column("b")
            .to_numpy()
        )
        touched = rng.choice(nb, int(round(nb * p["touched_share"])), replace=False)
        hit = np.isin(buckets, touched)
        keys = np.arange(1, span + 1)
        old = keys[:n_t][hit[:n_t]]
        new = keys[n_t:][hit[n_t:]]
        if len(old) < n_upd or len(new) < n_new:
            raise ValueError("upsert key space too small for the requested shares")
        uniq = np.concatenate([rng.choice(old, n_upd, replace=False), new[:n_new]])
        delta_keys = np.concatenate([uniq, rng.choice(uniq, n_d - n_unique)])
        delta_keys = rng.permutation(delta_keys)

        def rows(keys: np.ndarray, ts: np.ndarray) -> pa.Table:
            return pa.table({
                "key": keys.astype(np.int64),
                "ts": ts.astype(np.int64),
                "val": np.round(rng.random(len(keys)) * 100, 3),
                "tag": np.array(["a", "b", "c", "d", "e"])[rng.integers(0, 5, len(keys))],
            })

        self.base = rows(np.arange(1, n_t + 1), rng.integers(0, 10**6, n_t))
        # delta timestamps are distinct and newer than every target row, so
        # last-writer-wins has exactly one answer per key
        self.delta = rows(delta_keys, 10**6 + rng.permutation(n_d))
        pq.write_table(self.base, self.data / "base.parquet")
        pq.write_table(self.delta, self.data / "delta.parquet")
        self.input_rows = n_d
        self.input_bytes = (self.data / "delta.parquet").stat().st_size

    def build_target(self, spark, run_pipeline) -> None:
        """Write the initial target through the merge sink itself, then keep
        a pristine copy that ``prepare`` restores before every run."""
        pristine = self.data / "target_pristine"
        run_pipeline(
            {"extractor": {"table": {"name": "base"}},
             "loader": {"parquet": self._loader(pristine)}},
            {"base": spark.createDataFrame(self.base)},
        )

    def _loader(self, path: Path) -> dict:
        return {"path": str(path), "mode": "merge", "keys": ["key"],
                "orderBy": "ts", "numBuckets": self.params["buckets"]}

    def tables(self, spark) -> dict:
        # registered from memory so every scan byte in the run is the merge
        # reading its own target back
        return {"delta": spark.createDataFrame(self.delta)}

    def config(self, out: Path) -> dict:
        return {
            "extractor": {"table": {"name": "delta"}},
            "loader": {"parquet": self._loader(out)},
        }

    def prepare(self, out: Path) -> None:
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.data / "target_pristine", out)

    def check(self, con, out: Path) -> list[str]:
        d = self.data
        want = f"""
            SELECT key, ts, val, tag FROM read_parquet('{d}/base.parquet')
            WHERE key NOT IN (SELECT key FROM read_parquet('{d}/delta.parquet'))
            UNION ALL
            SELECT key, ts, val, tag FROM read_parquet('{d}/delta.parquet')
            QUALIFY ts = max(ts) OVER (PARTITION BY key)"""
        got = (
            f"SELECT key, ts, val, tag FROM read_parquet('{out}/*/*.parquet', "
            "hive_partitioning=true)"
        )
        diff = _except_both(con, got, want)
        return [f"merged target differs from last-writer-wins in {diff} rows"] if diff else []


WORKLOADS: dict[str, type[Workload]] = {
    "curate": Curate,
    "upsert": Upsert,
}


def make(name: str, seed: int, data: Path) -> Workload:
    return WORKLOADS[name](name, seed, data)


def duckdb_connection():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")
    return con


def serve_checks(requests, replies) -> None:
    """Body of the checker process: answers each request line, a JSON
    [workload, seed, data dir, output dir], with a JSON line listing the
    problems found, until its input ends. Checks run in their own process
    so that DuckDB's memory is not counted in the pipeline's process tree."""
    con = duckdb_connection()
    try:
        for line in requests:
            name, seed, data, out = json.loads(line)
            try:
                problems = make(name, seed, Path(data)).check(con, Path(out))
            except Exception:  # noqa: BLE001 - reported as a failed check
                problems = [traceback.format_exc(limit=3)]
            replies.write(json.dumps(problems) + "\n")
            replies.flush()
    finally:
        con.close()


if __name__ == "__main__":
    serve_checks(sys.stdin, sys.stdout)
