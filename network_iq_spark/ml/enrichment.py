"""LLM enrichment (SURVEY.md §2.9 M7) — the reference's AI-briefing path
(``_ai_call`` + cached wrappers + run guard, streamlit_app.py:1166-1272)
re-expressed for an engine:

- The **context** is a lazy 1-row plan (``plans.briefing_context``) carrying
  its own sha-256 content hash (F13).
- The **cache** is a parquet table keyed by that hash with a TTL — the
  durable twin of ``st.cache_data(ttl=600)``.
- The **run guard** caps LLM calls per enricher instance (reference: ≤10 per
  session).
- Batch per-key enrichment uses ``mapInPandas`` so one Python worker batches
  many API calls (rate-limited) — the scale pattern for millions of rows.

No LLM SDK ships in this container: the provider callable is injected; the
default mirrors the reference's "_AI disabled_" degradation.
"""

from __future__ import annotations

import datetime
import os
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LlmFn = Callable[[str, str], str]  # (system_msg, user_json) -> markdown

BRIEFING_SYSTEM_MSG = (
    "You are a senior telecom reliability analyst. Write a concise briefing "
    "using ONLY provided data. Sections: 1) Executive Summary (<=4 bullets), "
    "2) Key Drivers, 3) At-Risk Cells, 4) Recommended Actions, 5) Caveats."
)


def disabled_llm(system_msg: str, user_json: str) -> str:
    """Reference-style graceful degradation when no provider is configured."""
    return "_AI disabled: no provider configured._"


def http_chat_provider(
    url: str | None = None,
    api_key_env: str = "LLM_API_KEY",
    model: str | None = None,
    timeout: float = 30.0,
    max_retries: int = 3,
    backoff_s: float = 0.5,
) -> LlmFn:
    """HTTP transport for M7 — the engine twin of the reference's
    ``_ai_call`` (streamlit_app.py:1166-1193), minus the vendor SDKs: one
    stdlib-urllib POST speaking the public chat-completions wire format
    (``{model, messages:[{role,content}...], temperature, max_tokens}`` →
    ``choices[0].message.content``), which Gemini/OpenAI-compatible
    endpoints all accept.

    Same degradation contract as the reference: a missing key or endpoint
    returns an ``_AI disabled: …_`` string instead of raising, and any
    terminal transport error returns ``_LLM error: …_`` — enrichment never
    fails a pipeline. Retries with exponential backoff on 429/5xx and
    connection errors; 4xx (minus 429) is terminal. The returned callable
    carries no open resources, so it pickles into ``enrich_batch``'s
    ``mapInPandas`` workers, where the rate limiter bounds aggregate QPS.
    """
    import json as _json
    import urllib.error
    import urllib.request

    endpoint = url or os.getenv("LLM_API_URL")
    model_name = model or os.getenv("LLM_MODEL", "gpt-4o-mini")

    def call(system_msg: str, user_json: str) -> str:
        if not endpoint:
            return "_AI disabled: LLM_API_URL not set._"
        api_key = os.getenv(api_key_env)
        if not api_key:
            return f"_AI disabled: {api_key_env} not set._"
        # reference user-message framing: data-only, fenced JSON
        user_msg = (
            "Use ONLY the JSON below; do not invent numbers.\n```json\n"
            + user_json
            + "\n```"
        )
        body = _json.dumps(
            {
                "model": model_name,
                "messages": [
                    {"role": "system", "content": system_msg},
                    {"role": "user", "content": user_msg},
                ],
                "temperature": 0.2,
                "max_tokens": 700,
            }
        ).encode()
        last_err: Exception | None = None
        for attempt in range(max_retries + 1):
            if attempt:
                time.sleep(backoff_s * (2 ** (attempt - 1)))
            try:
                req = urllib.request.Request(
                    endpoint,
                    data=body,
                    headers={
                        "Content-Type": "application/json",
                        "Authorization": f"Bearer {api_key}",
                    },
                )
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    payload = _json.loads(resp.read().decode())
                text = payload["choices"][0]["message"]["content"]
                return text or "_No response returned._"
            except urllib.error.HTTPError as e:
                last_err = e
                if e.code != 429 and e.code < 500:
                    break  # non-retryable client error
            except (urllib.error.URLError, OSError, KeyError, ValueError) as e:
                last_err = e
        return f"_LLM error: {last_err}_"

    return call


def provider_from_env() -> LlmFn:
    """Env-gated provider selection, mirroring the reference's key checks:
    a transport only exists when ``LLM_API_URL`` is configured; otherwise
    the disabled provider keeps every surface functional."""
    return http_chat_provider() if os.getenv("LLM_API_URL") else disabled_llm


class Enricher:
    """Driver-side enrichment with a hash-keyed parquet cache and run guard."""

    def __init__(
        self,
        spark: SparkSession,
        cache_path: str,
        llm: LlmFn = disabled_llm,
        ttl_seconds: int = 600,
        max_runs: int = 10,
    ) -> None:
        self.spark = spark
        self.cache_path = cache_path
        self.llm = llm
        self.ttl_seconds = ttl_seconds
        self.max_runs = max_runs
        self.runs = 0

    def _cache_lookup(self, key: str) -> str | None:
        if not os.path.exists(self.cache_path):
            return None
        cutoff = time.time() - self.ttl_seconds
        # the cache is hive-partitioned on the 2-hex-char hash prefix, so
        # the equality filter below partition-prunes the scan to 1/256th
        # of the table instead of re-reading the whole cache per briefing.
        # Caches written by the pre-h2 flat layout lack the partition
        # column: filter without pruning rather than crash; a cache that
        # can't be read at all (e.g. mixed flat+partitioned files breaking
        # partition discovery) is a MISS, never an error — the cache is an
        # optimization, and the entry will be re-written in the new layout.
        try:
            cache = self.spark.read.parquet(self.cache_path)
            pred = (F.col("context_hash") == key) & (F.col("created_at") >= cutoff)
            if "h2" in cache.columns:
                pred = (F.col("h2") == key[:2]) & pred
            hit = (
                cache.filter(pred)
                .orderBy(F.col("created_at").desc())
                .limit(1)
                .collect()
            )
        except Exception:  # noqa: BLE001 — any unreadable cache is a miss
            return None
        return hit[0].briefing if hit else None

    def _cache_put(self, key: str, briefing: str) -> None:
        row = [
            (key[:2], key, briefing, time.time(), datetime.datetime.utcnow().isoformat())
        ]
        try:
            self.spark.createDataFrame(
                row,
                "h2 string, context_hash string, briefing string, "
                "created_at double, created_iso string",
            ).write.mode("append").partitionBy("h2").parquet(self.cache_path)
        except Exception:  # noqa: BLE001 — the cache is an optimization;
            pass  # failing to persist must not fail the briefing itself

    def briefing(self, context: DataFrame, system_msg: str = BRIEFING_SYSTEM_MSG) -> str:
        """Run (or fetch) the briefing for a 1-row context plan with
        (context_json, context_hash) columns."""
        row = context.limit(1).collect()[0]
        cached = self._cache_lookup(row.context_hash)
        if cached is not None:
            return cached
        if self.runs >= self.max_runs:
            return "_AI run limit reached for this session._"
        self.runs += 1
        out = self.llm(system_msg, row.context_json)
        self._cache_put(row.context_hash, out)
        return out


def enrich_batch(
    df: DataFrame,
    llm: LlmFn,
    system_msg: str,
    calls_per_second: float = 5.0,
) -> DataFrame:
    """Per-row LLM enrichment at scale: appends ``briefing``, the model's
    answer to each row's ``context_json``. ``mapInPandas`` batches rows into one
    Python worker per partition, throttled to ``calls_per_second`` — the
    pattern for enriching millions of keys without per-row UDF overhead.
    Partition count bounds concurrency (repartition upstream to set the
    aggregate rate)."""
    from pyspark.sql.types import StringType, StructField, StructType

    # copy — StructType.add MUTATES the DataFrame's own schema object
    out_schema = StructType(
        list(df.schema.fields) + [StructField("briefing", StringType())]
    )
    min_interval = 1.0 / calls_per_second if calls_per_second > 0 else 0.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last = 0.0
        for pdf in batches:
            results = []
            for payload in pdf["context_json"]:
                wait = min_interval - (time.monotonic() - last)
                if wait > 0:
                    time.sleep(wait)
                last = time.monotonic()
                results.append(llm(system_msg, payload))
            pdf["briefing"] = results
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
