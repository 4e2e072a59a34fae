"""Stateful cross-microbatch URL dedup (applyInPandasWithState).

A continuously-ingesting crawl pipeline re-sees urls across drops
(refetches, mirror hosts).  This operator keeps ONE keyed state cell
per url-hash shard — the set of content fingerprints already emitted —
and lets only first-seen (url, fingerprint) rows through, so the
downstream extraction never pays for a page it already processed.

Scale shape:
  * state is keyed by `shard = pmod(xxhash64(url), n_shards)` — the
    same url-hash partitioning as the batch job, so state distributes
    uniformly across executors regardless of host skew;
  * per-shard state is a dict {url -> md5(html)} bounded by
    MAX_URLS_PER_SHARD (oldest-insertion eviction): bounded memory per
    state cell, deterministic eviction order;
  * an OPTIONAL processing-time timeout expires idle shards so
    abandoned key ranges do not hold memory forever.  Off by default:
    with trigger(availableNow) the timeout keeps the query scheduling
    no-data batches and termination stalls for minutes (measured 241s
    vs 5s for one 8-row microbatch) — enable it only on continuously
    running queries.

The operator class the rest of the engine lacks: arbitrary keyed state
(GroupState), not just watermarked window aggregation (windowed.py).
No reference analog (the service is stateless request/response —
SURVEY §3.3); this is the streaming leg of the O6 recurring-element
idea generalized across time.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

N_SHARDS_DEFAULT = 64
MAX_URLS_PER_SHARD = 100_000

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("first_seen", T.BooleanType(), False),
    ]
)

# state: parallel arrays (urls, fps) — Spark state rows must be a
# fixed StructType, so the dict is carried as two aligned lists
STATE_SCHEMA = T.StructType(
    [
        T.StructField("urls", T.ArrayType(T.StringType()), True),
        T.StructField("fps", T.ArrayType(T.StringType()), True),
    ]
)


def _make_dedup_shard(idle_timeout_ms: int | None):
    def _dedup_shard(
        key: Any,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """One url-hash shard: emit rows whose (url -> content
        fingerprint) is new; refresh state.  Deterministic: rows are
        processed in (warc_ts, url) order so replayed microbatches
        re-emit identically."""
        import hashlib

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            urls, fps = state.get
            seen = dict(zip(urls, fps))
        else:
            seen = {}

        # Concatenate ALL of the shard's Arrow chunks before sorting: a
        # per-chunk sort would make processing order (and the fingerprint
        # left in state when one url arrives with two payloads in the
        # same microbatch) follow chunk arrival order, not the global
        # (warc_ts, url) order the determinism contract promises.  Safe:
        # per-shard state is already bounded, and a shard's microbatch
        # slice is a bounded fraction of the trigger interval's rows.
        chunks = list(batches)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            pdf = pdf.sort_values(["warc_ts", "url"], kind="mergesort")
            out = {c: [] for c in ("url", "warc_ts", "html", "text", "lang", "first_seen")}
            for row in pdf.itertuples(index=False):
                fp = hashlib.md5(row.html or b"").hexdigest()
                first = seen.get(row.url) != fp
                if first:
                    if len(seen) >= MAX_URLS_PER_SHARD and row.url not in seen:
                        # bounded state: evict the oldest insertion
                        seen.pop(next(iter(seen)))
                    seen[row.url] = fp
                out["url"].append(row.url)
                out["warc_ts"].append(row.warc_ts)
                out["html"].append(row.html)
                out["text"].append(row.text)
                out["lang"].append(row.lang)
                out["first_seen"].append(first)
            emit = pd.DataFrame(out)
            yield emit[emit["first_seen"]]

        state.update((list(seen.keys()), list(seen.values())))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)

    return _dedup_shard


def dedup_stream(pages: DataFrame, n_shards: int = N_SHARDS_DEFAULT,
                 idle_timeout_ms: int | None = None) -> DataFrame:
    """pages stream -> first-seen rows only (cross-microbatch).

    Compose in front of the extraction chain:

        src = spark.readStream.schema(PAGES_SCHEMA).parquet(dir)
        fresh = dedup_stream(src)
        out = with_extraction(fresh.drop("first_seen"))
    """
    shard = F.pmod(F.xxhash64("url"), F.lit(n_shards)).cast("int")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        pages.withColumn("shard", shard)
        .groupBy("shard")
        .applyInPandasWithState(
            _make_dedup_shard(idle_timeout_ms),
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=timeout,
        )
    )
