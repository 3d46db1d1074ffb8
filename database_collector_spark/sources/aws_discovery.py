"""Driver-side AWS Secrets Manager discovery (SURVEY.md §2.1 S1/S2).

The reference lists secrets with the server-side filter
``tag-key = database-collector:enabled`` and ``MaxResults: 100`` in a
single page — it never paginates (collector/internal/aws/
secrets-manager.go:30-46) — then fetches each secret string through a
TTL cache (secrets-manager.go:12-21,48-54) and PANICS on a failed fetch
(secrets-manager.go:51).

Spark-first shape: discovery is inherently a driver-side API call over
≤100 tiny records, so this module is deliberately the thinnest possible
boundary — list + fetch produce one ``createDataFrame`` against
``SOURCES_REGISTRY_SCHEMA`` and every downstream step
(``registry.enabled_page`` / ``refresh_diff``, scraper fan-out) is
DataFrame-side. Differences from the reference, on purpose:

* fail-soft — an unfetchable/unparsable secret becomes a registry row
  with NULL connection fields (its NULL engine gets a NULL route, which
  ``pipeline.run_once`` warns about) instead of a panic taking down the
  whole collector;
* boto3 is import-gated so the engine core has no hard AWS dependency.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from database_collector_spark.model.schemas import SOURCES_REGISTRY_SCHEMA
from database_collector_spark.sources.registry import ENABLED_TAG, MAX_TARGETS

try:  # pragma: no cover - exercised via moto in tests
    import boto3
except ImportError:  # pragma: no cover
    boto3 = None

# TTL matching the reference's cache intent (secrets-manager.go:12-21);
# module-level so repeated refresh loops reuse fetches within a window.
SECRET_CACHE_TTL_S = 300.0
_secret_cache: dict[str, tuple[float, str | None]] = {}


def secrets_client():  # pragma: no cover - trivial factory
    if boto3 is None:
        raise RuntimeError("boto3 is not installed; pass an explicit client")
    return boto3.client("secretsmanager")


def list_tagged_secrets(client, *, max_targets: int = MAX_TARGETS) -> list[dict]:
    """S1: one ``ListSecrets`` page, server-side tag-key filter.

    Parity with secrets-manager.go:30-46: filter pushed to the API
    (tag-key), page capped at ``max_targets``, and NO pagination — the
    reference reads exactly one page, so >100 tagged secrets are silently
    truncated there too (documented quirk, kept).
    """
    page = client.list_secrets(
        MaxResults=max_targets,
        Filters=[{"Key": "tag-key", "Values": [ENABLED_TAG]}],
    )
    out = []
    for s in page.get("SecretList", [])[:max_targets]:
        out.append(
            {
                "secret_name": s["Name"],
                "tags": {t["Key"]: t.get("Value", "") for t in s.get("Tags", [])},
            }
        )
    return out


def fetch_secret_string(
    client, name: str, *, ttl_s: float = SECRET_CACHE_TTL_S
) -> str | None:
    """S2: cached ``GetSecretValue`` point lookup.

    TTL cache mirrors aws-secretsmanager-caching-go's role in the
    reference; fail-soft None replaces the panic at
    secrets-manager.go:51 (one bad secret must not kill a 100-target
    collection run).
    """
    now = time.monotonic()
    hit = _secret_cache.get(name)
    if hit is not None and now - hit[0] < ttl_s:
        return hit[1]
    try:
        value: str | None = client.get_secret_value(SecretId=name)["SecretString"]
    except Exception:
        # transient failure: do NOT negative-cache — the next refresh must
        # retry immediately, or one throttle/timeout would hide a healthy
        # target for the whole TTL (the reference cache stores successes
        # only)
        return None
    _secret_cache[name] = (now, value)
    return value


def _parse_secret(raw: str | None) -> dict[str, Any]:
    """JSON secret -> connection fields; anything malformed -> NULLs.

    The reference type-asserts a dynamic map (database-collector.go:39-46)
    and would panic on a malformed secret; NULL columns keep the row
    observable instead.
    """
    fields = {"engine": None, "host": None, "port": None, "username": None,
              "password": None, "dbname": None}
    if raw is None:
        return fields
    try:
        obj = json.loads(raw)
    except (ValueError, TypeError):
        return fields
    if not isinstance(obj, dict):
        return fields
    for k in fields:
        v = obj.get(k)
        if v is not None:
            fields[k] = str(v)
    try:
        fields["port"] = int(fields["port"]) if fields["port"] is not None else None
    except ValueError:
        fields["port"] = None
    return fields


def registry_from_aws(
    spark: SparkSession, client=None, *, max_targets: int = MAX_TARGETS
) -> DataFrame:
    """S1+S2 composed: AWS listing -> the sources-registry DataFrame.

    The result is schema-identical to a JSON/Delta/parquet registry table,
    so ``registry.enabled_page`` / ``refresh_diff`` work unchanged on
    either provenance.
    """
    client = client if client is not None else secrets_client()
    rows = []
    for target in list_tagged_secrets(client, max_targets=max_targets):
        parsed = _parse_secret(fetch_secret_string(client, target["secret_name"]))
        rows.append({"secret_name": target["secret_name"], "tags": target["tags"], **parsed})
    return spark.createDataFrame(rows, SOURCES_REGISTRY_SCHEMA)
