"""The benchmark workloads, each driving the engine's public API.

A workload is built once per process from its cached inputs. ``run()``
executes one pass and returns its output. ``check(outputs)`` runs the
untimed output checks right after the cold pass, whose output is
``outputs[0]``; ``compare(outputs)`` compares every pass's output with
the cold pass's at the end. Both return one message per failure.
``rows`` is the input row count behind ``rows_per_s``; ``warmup`` is the
number of passes after the cold one that run before the timed ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upgini_spark.operators import timeseries as TS
from upgini_spark.pipeline import normalizer as N
from upgini_spark.pipeline.enricher import SparkFeaturesEnricher
from upgini_spark.pipeline.lineage import content_digest


def noop(df: DataFrame) -> None:
    """Compute every projected column and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def _digest() -> list:
    """Row count and an order-independent hash sum of (doc_id,
    event_time, tokens), as aggregate expressions."""
    h = F.xxhash64("doc_id", "event_time", "tokens").cast("decimal(38,0)")
    return [F.count("*").alias("n"), F.sum(h).alias("h")]


def _fold(row) -> tuple[int, int]:
    return row["n"], int(row["h"] or 0) % (1 << 64)


class Workload:
    rows: int
    warmup = 0

    def compare(self, outputs: list) -> list[str]:
        return []


class TransformTokens(Workload):
    """fit → transform → sessionize over the fixture's token sequences,
    noop sink."""

    # JIT warm-up: passes keep getting faster for about ten passes after
    # the cold one (the third takes ~1.3 times as long as the twelfth);
    # a count, not a time, so every run times the same stretch of it
    warmup = 8

    def __init__(self, spark: SparkSession, inputs: str) -> None:
        self.seq = spark.read.parquet(f"{inputs}/seq")
        self.source = spark.read.parquet(f"{inputs}/source")
        self.rows = self.seq.count()

    def build(self) -> DataFrame:
        enr = SparkFeaturesEnricher(self.source).fit(
            self.seq, "doc_id", "event_time", validate_features=False
        )
        out = enr.transform(self.seq)
        return TS.sessionize(out, "event_time", ["doc_id"], 86_400)

    def run(self) -> None:
        noop(self.build())

    def check(self, outputs: list) -> list[str]:
        """On a pass of its own (the noop sink keeps no output): zero
        leakage, and (doc_id, event_time, tokens) passed through
        byte-identical: same row count, same order-independent digest."""
        out = self.build()
        got = out.agg(
            *_digest(), F.count_if(F.col("matched_ts") > F.col("event_time")).alias("leaks")
        ).first()
        want = _fold(self.seq.agg(*_digest()).first())
        errors = []
        if got["leaks"]:
            errors.append(f"{got['leaks']} rows matched a feature point after their event time")
        if _fold(got) != want:
            errors.append(f"(rows, token digest) {_fold(got)} != input {want}")
        return errors


class FitAndOperators(Workload):
    """The fit side end to end: type normalization, fit (with feature
    validation), fintech and full dedup, deterministic record ids, then
    calculate_metrics (as-of enrichment of narrow rows, sampling, folds,
    one collect, driver-side CV); ``max_rows`` is scaled with the input
    so the sampler runs. Then three registered queries, one per operator
    module the lifecycle never calls, each sunk into its content digest.
    """

    FEATURES = ["client_f"]
    MAX_ROWS = 6_000
    QUERIES = ["knn_cosine_top3", "chunk_sliding_tokens", "text_bm25_topk"]
    EMPTY_DIGEST = f"{0:016x}"
    # no warm-up pass: the first pass after the cold one runs only about
    # 15 % slower than the fifth, and a warm-up pass of ~10 s did not fit
    # the run budget; two timed passes always take longer than
    # run_seconds, so every run times the same two passes

    def __init__(self, spark: SparkSession, inputs: str) -> None:
        import __spark_entry__

        # the sequences and their duplicate slice, as one table
        self.seq = spark.read.parquet(f"{inputs}/seq", f"{inputs}/dups")
        self.source = spark.read.parquet(f"{inputs}/source")
        self.prepared: DataFrame | None = None
        self.spark = spark
        self.inputs = inputs
        registered = __spark_entry__.queries()
        self.queries = {q: registered[q] for q in self.QUERIES}
        self.fit_rows = self.seq.count()
        self.rows = self.fit_rows + sum(
            spark.read.parquet(f"{inputs}/{t}.parquet").count()
            for t in ("documents", "embeddings")
        )

    def run(self):
        work = N.normalize_types(self.seq, self.FEATURES)
        enr = SparkFeaturesEnricher(self.source).fit(
            work, "doc_id", "event_time",
            feature_cols=self.FEATURES, target_col="target_bin",
        )
        work = enr.clean_duplicates(work, "target_bin", "row_order")
        self.prepared = enr.with_record_ids(work)
        report = enr.calculate_metrics(self.prepared, "target_bin", max_rows=self.MAX_ROWS)
        digests = {
            name: content_digest(fn(self.spark, self.inputs))
            for name, fn in self.queries.items()
        }
        return report, digests

    def check(self, outputs: list) -> list[str]:
        """The cold pass's record ids are dense and unique over 0..n-1,
        its dedup removed rows, every row it prepared exists in the
        input, its report has train and eval rows, and no query returned
        an empty result."""
        report, digests = outputs[0]
        errors = []
        if len(report) < 2:
            errors.append(f"report has {len(report)} rows, expected train and eval rows")
        errors += [f"{q}: empty result" for q, d in digests.items() if d == self.EMPTY_DIGEST]
        ids = self.prepared.agg(
            F.count("*").alias("n"),
            F.countDistinct("system_record_id").alias("distinct"),
            F.min("system_record_id").alias("lo"),
            F.max("system_record_id").alias("hi"),
        ).first()
        if not (ids["n"] == ids["distinct"] and ids["lo"] == 0 and ids["hi"] == ids["n"] - 1):
            errors.append(f"system_record_id is not dense and unique over 0..n-1: {ids.asDict()}")
        if ids["n"] >= self.fit_rows:
            errors.append(f"dedup removed nothing: {ids['n']} of {self.fit_rows} rows kept")
        normalized = N.normalize_types(self.seq, self.FEATURES)
        strays = self.prepared.drop("system_record_id").exceptAll(normalized).count()
        if strays:
            errors.append(f"{strays} prepared rows do not exist in the input")
        return errors

    def compare(self, outputs: list) -> list[str]:
        """Every pass's report and query digests equal the cold pass's."""
        report, digests = outputs[0]
        errors = []
        for i, (rep, dig) in enumerate(outputs[1:], 1):
            if not rep.equals(report):
                errors.append(f"pass {i} report differs from the cold pass's")
            errors += [
                f"{q}: content digest of pass {i} differs from the cold pass's"
                for q in self.QUERIES if dig[q] != digests[q]
            ]
        return errors


WORKLOADS = {
    "transform_tokens": TransformTokens,
    "fit_and_operators": FitAndOperators,
}
