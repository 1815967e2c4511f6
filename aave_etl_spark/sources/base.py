"""Connector execution machinery: retry policy, transport protocol, and the
two fetch shapes (driver-side scan, executor-side fan-out).

Reference parity:
- exponential backoff ×10 from 0.01 s with 0–250 ms jitter
  (aave_data/resources/helpers.py:20-21, 192-205, 1176-1189);
- bounded request concurrency inside a partition
  (asyncio.Semaphore(20), protocol_data_lake.py:855, 926);
- empty-prerequisite short-circuit to an empty, correctly-typed DataFrame
  (data_lake.py:235-236; bigquery_io_manager.py:115).

Scale design: fan-out requests ride a DataFrame of request keys through
``mapInPandas`` — HTTP/RPC happens on executors, parallel across
partitions, with per-partition concurrency bounded by the semaphore, so a
1000-executor cluster fans out without the driver in the data path.
"""

from __future__ import annotations

import itertools
import random
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any, Protocol

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from aave_etl_spark.localframe import local_df


class Transport(Protocol):
    """One request → one decoded payload (dict/list/str). Implementations:
    real HTTP/RPC client (production), fake dict-backed (tests/fixtures)."""

    def __call__(self, request: dict[str, Any]) -> Any: ...


@dataclass(frozen=True)
class RetryPolicy:
    """Exponential backoff with jitter (helpers.py:20-21, 201-203)."""

    initial_s: float = 0.01
    max_retries: int = 10
    jitter_s: float = 0.25

    def delays(self) -> Iterator[float]:
        d = self.initial_s
        for _ in range(self.max_retries):
            yield d + random.random() * self.jitter_s
            d *= 2


DEFAULT_RETRY = RetryPolicy()


def retrying(
    fn: Callable[[], Any],
    policy: RetryPolicy = DEFAULT_RETRY,
    retryable: tuple[type[BaseException], ...] = (Exception,),
) -> Any:
    """Run ``fn`` with the reference's backoff loop (helpers.py:192-205):
    up to ``policy.max_retries`` attempts (at least one), sleeping only
    between them, so an exhausted request raises its last error at once."""
    for delay in itertools.islice(policy.delays(), max(policy.max_retries - 1, 0)):
        try:
            return fn()
        except retryable:  # noqa: PERF203
            time.sleep(delay)
    return fn()


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """Typed empty output for missing prerequisites (data_lake.py:235-236)."""
    return local_df(spark, [], schema)


def driver_fetch(
    spark: SparkSession,
    transport: Transport,
    request: dict[str, Any],
    to_rows: Callable[[Any], list[dict[str, Any]]],
    schema: StructType,
    policy: RetryPolicy = DEFAULT_RETRY,
) -> DataFrame:
    """Driver-side scan: one retried request → small typed DataFrame.

    Right shape for per-partition scans whose response is O(markets ×
    reserves) rows (S1, S4, S14, S15 …): the result is tiny and usually
    broadcast into downstream joins."""
    payload = retrying(lambda: transport(request), policy)
    rows = to_rows(payload)
    if not rows:
        return empty_frame(spark, schema)
    return local_df(spark, rows, schema)


def fanout_fetch(
    keys: DataFrame,
    transport: Transport,
    to_rows: Callable[[dict[str, Any], Any], list[dict[str, Any]]],
    schema: StructType,
    policy: RetryPolicy = DEFAULT_RETRY,
    max_concurrency: int = 20,
) -> DataFrame:
    """Executor-side fan-out: one request per input row via ``mapInPandas``.

    ``keys`` columns form the request dict; ``to_rows(request, payload)``
    flattens each response. Concurrency within a partition is bounded to
    ``max_concurrency`` in-flight requests (Semaphore(20) parity) using a
    thread pool — network-bound work, so threads (not asyncio) keep the
    transport interface synchronous and picklable.

    At scale: ``keys.repartition(n)`` controls total parallelism =
    n_partitions × max_concurrency; the driver never sees a payload."""

    key_cols = keys.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from concurrent.futures import ThreadPoolExecutor

        out_cols = [f.name for f in schema.fields]

        def one(req: dict[str, Any]) -> list[dict[str, Any]]:
            payload = retrying(lambda: transport(req), policy)
            return to_rows(req, payload)

        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            for pdf in batches:
                reqs = pdf[key_cols].to_dict("records")
                rows = [r for rs in pool.map(one, reqs) for r in rs]
                yield pd.DataFrame(rows, columns=out_cols)

    return keys.mapInPandas(run, schema=schema)
