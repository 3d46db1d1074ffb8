"""S1/S2 driver shim against a moto-mocked Secrets Manager.

Pins the reference behaviors at collector/internal/aws/
secrets-manager.go:30-46 (tag-filtered single-page listing, cap 100) and
the composed path into ``registry.enabled_page`` — plus this engine's
deliberate fail-soft deviation from the reference's panic on a bad
secret.
"""

from __future__ import annotations

import json

import pytest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

from database_collector_spark.sources import aws_discovery
from database_collector_spark.sources.registry import ENABLED_TAG, enabled_page


@pytest.fixture()
def sm_client(monkeypatch):
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    aws_discovery._secret_cache.clear()
    with moto.mock_aws():
        yield boto3.client("secretsmanager")


def _mk(client, name, secret, *, tagged=True):
    tags = [{"Key": ENABLED_TAG, "Value": "true"}] if tagged else []
    client.create_secret(
        Name=name,
        SecretString=secret if isinstance(secret, str) else json.dumps(secret),
        Tags=tags,
    )


def test_list_is_tag_filtered(sm_client):
    _mk(sm_client, "db-a", {"engine": "mysql", "host": "h", "port": 3306})
    _mk(sm_client, "untagged", {"engine": "mysql"}, tagged=False)
    got = aws_discovery.list_tagged_secrets(sm_client)
    assert [t["secret_name"] for t in got] == ["db-a"]
    assert got[0]["tags"][ENABLED_TAG] == "true"


def test_fetch_is_cached_and_fail_soft(sm_client):
    _mk(sm_client, "db-a", {"engine": "mysql"})
    first = aws_discovery.fetch_secret_string(sm_client, "db-a")
    assert json.loads(first)["engine"] == "mysql"
    # second read must come from the TTL cache, not the API
    sm_client.delete_secret(SecretId="db-a", ForceDeleteWithoutRecovery=True)
    assert aws_discovery.fetch_secret_string(sm_client, "db-a") == first
    # unfetchable secret -> None (reference panics at secrets-manager.go:51)
    assert aws_discovery.fetch_secret_string(sm_client, "missing") is None


def test_registry_roundtrip_into_discover(spark, sm_client):
    _mk(sm_client, "db-mysql",
        {"engine": "mysql", "host": "h1", "port": 3306,
         "username": "u", "password": "p", "dbname": "d"})
    _mk(sm_client, "db-ora",
        {"engine": "custom-oracle-ee", "host": "h2", "port": "1521",
         "username": "u", "password": "p", "dbname": "d"})
    _mk(sm_client, "db-bad-json", "not json {")
    _mk(sm_client, "db-unknown", {"engine": "mssql", "host": "h3"})
    _mk(sm_client, "skipme", {"engine": "mysql"}, tagged=False)

    reg = aws_discovery.registry_from_aws(spark, sm_client)
    rows = {r["secret_name"]: r for r in reg.collect()}
    assert set(rows) == {"db-mysql", "db-ora", "db-bad-json", "db-unknown"}
    assert rows["db-ora"]["port"] == 1521  # string port coerced
    assert rows["db-bad-json"]["engine"] is None  # fail-soft NULLs

    routed = {
        r["secret_name"]: r["route"]
        for r in enabled_page(reg).collect()
        if r["route"] is not None
    }
    # alias map routes oracle variants; unknown + unparsable are skipped
    assert routed == {"db-mysql": "mysql", "db-ora": "oracle"}


def test_listing_caps_at_max_targets(sm_client):
    for i in range(7):
        _mk(sm_client, f"db-{i:02d}", {"engine": "mysql"})
    got = aws_discovery.list_tagged_secrets(sm_client, max_targets=5)
    assert len(got) == 5
