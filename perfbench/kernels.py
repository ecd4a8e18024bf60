"""Kernel micro-benchmark: the numpy Jaro-Winkler and TF-IDF-cosine
batch kernels, timed in the driver outside Spark on the pair strings
the workload actually scored, and checked against the scalar reference
implementations on a sample. A workload that fits no IDF scores no
TF-IDF cosine, so its ``tfidf_cosine_batch`` rate is 0, as for any
layer a workload never reaches."""

from __future__ import annotations

import random
import statistics
import time

BATCH = 10_000  # the Arrow batch size the scoring UDF receives
SAMPLE = 200
REPEATS = 5


def _rows_per_s(fn, a: list[str], b: list[str]) -> float:
    """Median over REPEATS of rows / wall, the batch kernel fed in
    BATCH-row slices as the UDF feeds it."""
    rates = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for i in range(0, len(a), BATCH):
            fn(a[i : i + BATCH], b[i : i + BATCH])
        rates.append(len(a) / (time.perf_counter() - t0))
    return statistics.median(rates)


def bench_kernels(
    pairs: list[tuple[str, str]], idf: dict[str, float] | None, seed: int
) -> tuple[dict[str, float], list[str]]:
    """(rows/s per kernel, mismatches against the scalar kernels); the
    TF-IDF kernel runs only with the workload's fitted ``idf``."""
    from entity_linking_in_biomedical_spark.functions.strings import (
        jaro_winkler,
        jaro_winkler_batch,
        pack_vocab,
        tfidf_cosine,
        tfidf_cosine_batch,
    )

    if not pairs:
        return {"jaro_winkler_batch": 0.0, "tfidf_cosine_batch": 0.0}, ["no scored pairs"]
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    rates = {
        "jaro_winkler_batch": _rows_per_s(jaro_winkler_batch, a, b),
        "tfidf_cosine_batch": 0.0,
    }
    sample = random.Random(seed).sample(pairs, min(SAMPLE, len(pairs)))
    sa = [x for x, _ in sample]
    sb = [y for _, y in sample]
    bad = []
    for (x, y), jw in zip(sample, jaro_winkler_batch(sa, sb)):
        if abs(jw - jaro_winkler(x, y)) > 1e-9:
            bad.append(f"jaro_winkler_batch({x!r}, {y!r}) = {jw}, scalar {jaro_winkler(x, y)}")
    if idf is None:
        return rates, bad
    codes, vals = pack_vocab(idf)

    def tfidf(xs, ys):
        return tfidf_cosine_batch(xs, ys, codes, vals)

    rates["tfidf_cosine_batch"] = _rows_per_s(tfidf, a, b)
    for (x, y), cos in zip(sample, tfidf(sa, sb)):
        if abs(cos - tfidf_cosine(x, y, idf)) > 1e-9:
            bad.append(f"tfidf_cosine_batch({x!r}, {y!r}) = {cos}, scalar {tfidf_cosine(x, y, idf)}")
    return rates, bad
