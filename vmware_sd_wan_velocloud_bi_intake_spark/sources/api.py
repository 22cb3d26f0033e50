"""JSON-RPC-style API source adapter (SURVEY.md §2.1 S1–S4, §2.9 T6–T7).

The reference's universal source is a JSON-RPC POST returning nested JSON
(``VCOClient.py:75-98``), with hand-rolled pushdowns: server-side projection
via ``with:`` lists (S3), time-interval predicates via ``interval:`` params
(S4), and row caps via ``limit``/``maxSamples`` (O2) — plus a 10-thread
fan-out over orchestrators (T6) and sleep-based rate limiting (T7).

Spark-first restatement:

- The endpoint list becomes a DataFrame partitioned across executors; each
  partition runs a ``mapInPandas`` fetcher — fan-out parallelism is Spark's
  task scheduling, not a thread pool (T6), with retry handled by the
  scheduler. A task makes every call an endpoint needs, in order (the
  reference's per-customer thread). The fetch has ``min(endpoints,
  max_parallelism, defaultParallelism)`` partitions: ``max_parallelism`` is
  a true maximum, and partitions beyond the cluster's task slots add tasks,
  not concurrent calls (32 partitions on 4 slots make the same 4 calls at a
  time as 4 partitions, with 8x the tasks). Fewer tasks also means fewer
  per-task token buckets, so the request rate toward a VCO never rises.
- Pushdown is explicit in the request builder: ``projection`` → ``with``,
  ``interval`` → ``interval``, ``limit`` → ``limit``. The transform layer
  never re-filters what the source already filtered.
- Rate limiting is a per-task token bucket (T7) — N tasks × rate budget
  replaces the reference's global sleeps; N is capped by the width above.
- Results surface as a ``payload`` JSON string column; callers apply
  ``F.from_json(payload, schema)`` with an explicit nested StructType —
  schema-on-read with declared nullable schemas instead of the reference's
  try/except KeyError tolerance (SURVEY.md §1.4).

The transport is pluggable (`Callable[[method, params], object]`): production
wires an HTTPS client; tests and the demo pipeline use the deterministic
:mod:`fake_transport`.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

Transport = Callable[[str, dict], object]


class TokenBucket:
    """Minimal per-task rate limiter (T7): at most one call per ``interval_s``."""

    def __init__(self, interval_s: float):
        self.interval_s = interval_s
        self._last = 0.0

    def acquire(self) -> None:
        if self.interval_s <= 0:
            return
        now = time.monotonic()
        wait = self._last + self.interval_s - now
        if wait > 0:
            time.sleep(wait)
        self._last = time.monotonic()


def build_params(
    base_params: dict | None = None,
    projection: list[str] | None = None,
    interval: tuple[int, int] | None = None,
    limit: int | None = None,
) -> dict:
    """Assemble request params with the reference's pushdown conventions.

    projection → ``with`` (S3, powerbi_main_fun.py:181-182); interval →
    epoch-ms ``interval`` (S4, :470-472); limit → ``limit`` (:283).
    """
    params = dict(base_params or {})
    if projection is not None:
        params["with"] = list(projection)
    if interval is not None:
        params["interval"] = {"start": interval[0], "end": interval[1]}
    if limit is not None:
        params["limit"] = limit
    return params


def fetch_payloads(
    spark: SparkSession,
    endpoints: list[dict],
    method: str,
    params: dict,
    transport_factory: Callable[[], Transport],
    rate_limit_s: float = 0.0,
    max_parallelism: int = 10,
    degradable: list[str] | None = None,
) -> DataFrame:
    """Fan the endpoint list across partitions and fetch one payload each.

    Returns columns (endpoint: string JSON, method: string, payload: string
    JSON, status: string). ``status`` is the per-row side-channel: null for
    a clean full-projection fetch, a degradation record when the heavy call
    failed and the narrowed retry succeeded. Failures degradation cannot
    answer RAISE (a visible, Spark-retryable task error) rather than
    producing a null payload a downstream ``explode`` would silently drop.
    The transport factory runs once per non-empty task (connection reuse
    within a partition, like the reference's per-thread clients at
    ``powerbi_main_fun.py:99-102``).

    **Degrade-and-retry (S2)**: ``degradable`` names the projection entries
    that may be dropped when the full call fails — the reference's
    ``get_customer_edges`` contract (``Functions/vco_calls.py:178-199``:
    retry ``getEnterpriseEdges`` without ``licenses`` on ApiException,
    record ``"... with licenses failed - got without license"``). One heavy
    sub-object failing no longer silently loses a whole endpoint's rows;
    they arrive minus the degraded columns with the degradation recorded.

    The fan-out has ``min(len(endpoints), max_parallelism,
    defaultParallelism)`` partitions, one task each. The list enters as a
    pandas frame, which Arrow plans as a ``LocalTableScan``; a Python list
    would plan ``Scan ExistingRDD``, a Python worker round trip per slice.
    """
    import pandas as pd

    n_parts = max(
        1, min(len(endpoints), max_parallelism, spark.sparkContext.defaultParallelism)
    )
    eps = spark.createDataFrame(
        pd.DataFrame({"endpoint": [json.dumps(e, sort_keys=True) for e in endpoints]}),
        "endpoint string",
    ).repartition(n_parts)
    return _fetch_over(
        eps, [(method, params)], transport_factory, rate_limit_s, degradable
    )


def fetch_payloads_from(
    endpoints_df: DataFrame,
    calls: list[tuple[str, dict]],
    transport_factory: Callable[[], Transport],
    rate_limit_s: float = 0.0,
    max_parallelism: int = 10,
    degradable: list[str] | None = None,
) -> DataFrame:
    """DataFrame-native :func:`fetch_payloads`: endpoints stay distributed,
    and each endpoint makes every ``(method, params)`` call in ``calls``.

    ``endpoints_df`` carries one JSON-string ``endpoint`` column (build it
    with ``F.to_json(F.struct(...))`` from any parent DataFrame). The
    fan-out is a repartition of that column — the endpoint list never
    round-trips through the driver, so planning per-entity work over a
    discovered fleet costs the same at 10 enterprises and at 10 million
    (the list form's ``collect()`` is a driver funnel at 100× fleet).
    Same output contract as :func:`fetch_payloads`, one row per endpoint
    and call: a task makes an endpoint's calls in order, serially, through
    its one transport and token bucket (``process_customer``: edges, then
    events), so one stage fetches them all at an unchanged request rate.

    The endpoint count is unknown at plan time, so the fan-out has
    ``min(max_parallelism, defaultParallelism)`` partitions; with fewer
    endpoints than that, some partitions are empty and open no connection.
    """
    width = endpoints_df.sparkSession.sparkContext.defaultParallelism
    eps = endpoints_df.select("endpoint").repartition(min(max_parallelism, width))
    return _fetch_over(eps, calls, transport_factory, rate_limit_s, degradable)


def _fetch_over(
    eps: DataFrame,
    calls: list[tuple[str, dict]],
    transport_factory: Callable[[], Transport],
    rate_limit_s: float,
    degradable: list[str] | None,
) -> DataFrame:
    import pandas as pd

    calls_json = json.dumps(calls, sort_keys=True)
    rl_s = rate_limit_s
    degradable_ = list(degradable or [])

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # lazily constructed: repartition-to-cap can produce empty
        # partitions (the DataFrame form doesn't know the endpoint count at
        # plan time) and those must not open useless connections
        transport = None
        bucket = TokenBucket(rl_s)
        req_calls = json.loads(calls_json)
        for pdf in batches:
            rows = []
            for ep_json in pdf["endpoint"]:
                if transport is None:
                    transport = transport_factory()
                endpoint = json.loads(ep_json)
                for method, params in req_calls:
                    bucket.acquire()
                    result, status = _call_with_degrade(
                        transport, method, {**params, "endpoint": endpoint},
                        degradable_, bucket,
                    )
                    rows.append(
                        (ep_json, method, json.dumps(result, sort_keys=True), status)
                    )
            yield pd.DataFrame(rows, columns=["endpoint", "method", "payload", "status"])

    return eps.mapInPandas(
        fetch, schema="endpoint string, method string, payload string, status string"
    )


def _call_with_degrade(
    transport: Transport,
    method: str,
    params: dict,
    degradable: list[str],
    bucket: TokenBucket | None = None,
) -> tuple[object, str | None]:
    """(payload, status) with the reference's narrower-projection retry.

    Mirrors ``Functions/vco_calls.py:178-199``: the full-projection call is
    attempted once; on failure, if any ``degradable`` entries are present in
    the request's ``with:`` list, the call retries with them removed. The
    returned status mirrors the reference's message shape
    (``"getEnterpriseEdges with licenses failed - got without license"``).

    Failures that degradation cannot answer — no degradable entry in the
    request, or the narrowed retry failing too — RE-RAISE. Swallowing them
    into a null payload would let ``explode(from_json(null))`` silently
    delete the endpoint's rows downstream while the job reports success;
    raising makes the failure a visible, Spark-retryable task error (the
    pre-degradation contract). ``status`` therefore records exactly one
    thing: a successful degradation.
    """
    try:
        return transport(method, params), None
    except Exception:
        dropped = [w for w in degradable if w in (params.get("with") or [])]
        if not dropped:
            raise  # not a degradation case — fail loud, not silently empty
        narrowed = dict(params)
        narrowed["with"] = [w for w in params["with"] if w not in dropped]
        if bucket is not None:
            bucket.acquire()
        result = transport(method, narrowed)  # still failing? raise that too
        return (
            result,
            f"{method} with {'/'.join(dropped)} failed - got without "
            f"{'/'.join(dropped)}",
        )
