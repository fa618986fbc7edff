"""Seeded benchmark inputs, cached on disk per (seed, sizes).

Every input derives from the ``--seed`` argument, so the same seed gives
the same tables. One child process writes the tables of both workloads
(a run of the other workload with the same seed then reads them from
the cache), with a Spark session of its own, so neither its JVM warm-up
nor its memory counts in the measuring process:

- the token tables of the engine's own fixtures
  (``upgini_spark.fixtures``, F1/F2), at each workload's size;
- the documents and embeddings tables the registered operator queries
  read. The engine has no generator for them, so they are synthesized
  here (see ``_documents`` and ``_embeddings``) at the sf0.1 sizes the
  repository's measurements quote, one parquet file with one row group
  per table like the engine's test tables, so the queries run
  unchanged.

Generation is never timed.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # sequence rows per workload, as many feature entities with 8 points
    # each, and fit_and_operators' share of duplicate rows
    "tokens_rows": 30_000, "fit_rows": 10_000, "points": 8, "dup_pct": 5,
    # sf0.1: 5k documents of 54 words on average, 2k 64-dim embeddings
    "documents": 5_000, "words": 54, "embeddings": 2_000, "dim": 64,
}

# The corpus vocabulary and where text_bm25_topk's query terms sit in
# it: the query is {spark, window, dup}, "one common, one mid, one rare
# term". Word frequencies follow Zipf's law over VOCAB words, so at 54
# words per document the three terms occur in about 65 %, 6 % and 0.4 %
# of the documents.
VOCAB = 5_000
ZIPF_S = 1.0
QUERY_TERM_RANKS = {"spark": 5, "window": 100, "dup": 2_000}
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def cache_dir(root: str, seed: int) -> str:
    size = "-".join(f"{k}{v}" for k, v in sorted(SIZES.items()))
    return os.path.join(root, "cache", f"seed{seed}-{size}")


def ensure_inputs(root: str, workload: str, seed: int) -> str:
    """Return the directory of this workload's tables, writing the
    seed's tables first when missing, in a child process."""
    path = cache_dir(root, seed)
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), root, str(seed)], check=True
        )
    return os.path.join(path, workload)


def write_inputs(root: str, seed: int) -> None:
    """Write to a temporary sibling renamed into place, so an interrupted
    run never leaves a half-written cache."""
    path = cache_dir(root, seed)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark = _fixture_session(root)
    try:
        _sequences_and_source(spark, f"{tmp}/transform_tokens", seed, SIZES["tokens_rows"])
        _fit_inputs(spark, f"{tmp}/fit_and_operators", seed)
    finally:
        _stop(spark)
    _operator_tables(f"{tmp}/fit_and_operators", seed)
    os.rename(tmp, path)


def scratch_conf(root: str) -> dict[str, str]:
    """Session settings that keep Spark's scratch files under ``root``;
    every engine setting keeps the engine's own default."""
    return {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}/tmp -XX:-UsePerfData",
    }


def local_master() -> str:
    return f"local[{len(os.sched_getaffinity(0))}]"


def _fixture_session(root: str):
    from upgini_spark import get_spark

    return get_spark("perfbench-inputs", master=local_master(), extra_conf=scratch_conf(root))


def _stop(spark) -> None:
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)


# fixed, so the row order column below does not depend on the core count
PARTS = 8


def _sequences_and_source(spark, out: str, seed: int, rows: int, extra=()) -> None:
    from upgini_spark import fixtures

    fixtures.tokenized_sequences(spark, rows, seed=seed, n_partitions=PARTS).select(
        "*", *extra
    ).write.parquet(f"{out}/seq")
    fixtures.feature_source(
        spark, rows, points_per_entity=SIZES["points"], seed=seed, n_partitions=PARTS
    ).write.parquet(f"{out}/source")


def _fit_inputs(spark, out: str, seed: int) -> None:
    """The fixture's sequences plus a client feature, a binary target and
    a row-order column (``seq``); a seeded slice of exact duplicates of
    those rows, equal on every column but the row order, which sorts
    after every original (``dups``); and the fixture's feature source."""
    from pyspark.sql import functions as F

    _sequences_and_source(spark, out, seed, SIZES["fit_rows"], extra=(
        (F.col("n_tok") % 97).cast("double").alias("client_f"),
        (F.col("n_tok") % 2).cast("int").alias("target_bin"),
        F.monotonically_increasing_id().alias("row_order"),
    ))
    seq = spark.read.parquet(f"{out}/seq")
    picked = F.abs(F.xxhash64("row_order", F.lit(seed), F.lit("dup"))) % 100 < SIZES["dup_pct"]
    seq.filter(picked).withColumn(
        "row_order", F.col("row_order") + F.lit(1 << 62)
    ).write.parquet(f"{out}/dups")


def _operator_tables(out: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    _single_file(out, "documents", _documents(rng, SIZES["documents"], SIZES["words"]))
    _single_file(out, "embeddings", _embeddings(rng, SIZES["embeddings"], SIZES["dim"]))


def _single_file(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, f"{out}/{name}.parquet", row_group_size=len(table))


def _vocabulary() -> np.ndarray:
    """VOCAB distinct words by frequency rank (rank 1 first), with the
    BM25 query terms at their ranks."""
    words = np.array([f"w{r:04d}" for r in range(1, VOCAB + 1)], dtype=object)
    for word, rank in QUERY_TERM_RANKS.items():
        words[rank - 1] = word
    return words


def _documents(rng: np.random.Generator, n: int, mean_words: int) -> pa.Table:
    """Documents of Zipf-distributed words, with lengths uniform on
    [mean_words / 4, 7 * mean_words / 4]."""
    words = _vocabulary()
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    lengths = rng.integers(mean_words // 4, 7 * mean_words // 4 + 1, n)
    ranks = rng.choice(VOCAB, size=int(lengths.sum()), p=p / p.sum())
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[ranks[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 5}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    """Unit vectors around 10 random centers."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    write_inputs(sys.argv[1], int(sys.argv[2]))
