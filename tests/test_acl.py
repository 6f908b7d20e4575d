"""ACL authorizer (streaming/acl.py) — the kafka-acls.sh /
StandardAuthorizer analog: allow/deny × literal/prefixed/wildcard
matrix, operation implication, super users, and enforcement at the
TopicLog produce/consume/admin surface (r8 verdict item 3)."""

from __future__ import annotations

import json

import pytest

from rdkafka_streams_spark.streaming.acl import (
    AclBinding,
    AclStore,
    AuthorizationError,
)
from rdkafka_streams_spark.streaming.topiclog import TopicLog, read_topic


def _b(**kw):
    base = dict(
        resource_type="topic", resource_name="ev", pattern_type="literal",
        principal="User:alice", operation="READ", permission="allow",
    )
    base.update(kw)
    return AclBinding(**base)


def test_no_authorizer_configured_allows_everything(tmp_path):
    store = AclStore(str(tmp_path))
    assert store.authorize("User:anyone", "WRITE", "topic", "t")
    assert not store.enabled()


def test_allow_deny_prefix_wildcard_matrix(tmp_path):
    """The kafka-acls.sh evaluation matrix: deny beats allow, literal vs
    prefixed vs '*' patterns, principal wildcard, default-deny."""
    s = AclStore(str(tmp_path))
    s.enable()
    # default deny once the authorizer exists
    assert not s.authorize("User:alice", "READ", "topic", "ev")
    # literal allow
    assert s.add(_b())
    assert s.authorize("User:alice", "READ", "topic", "ev")
    assert not s.authorize("User:alice", "READ", "topic", "other")
    assert not s.authorize("User:bob", "READ", "topic", "ev")
    assert not s.authorize("User:alice", "WRITE", "topic", "ev")
    # idempotent add
    assert not s.add(_b())
    # prefixed pattern (KIP-290)
    s.add(_b(principal="User:etl", resource_name="logs-",
             pattern_type="prefixed", operation="WRITE"))
    assert s.authorize("User:etl", "WRITE", "topic", "logs-2024")
    assert not s.authorize("User:etl", "WRITE", "topic", "metrics")
    # wildcard resource + wildcard principal
    s.add(_b(principal="User:*", resource_name="*", operation="DESCRIBE"))
    assert s.authorize("User:whoever", "DESCRIBE", "topic", "anything")
    # DENY wins over any ALLOW
    s.add(_b(permission="deny"))
    assert not s.authorize("User:alice", "READ", "topic", "ev")
    # remove the deny -> allow is visible again
    assert s.remove(_b(permission="deny"))
    assert s.authorize("User:alice", "READ", "topic", "ev")
    assert not s.remove(_b(permission="deny"))  # already gone


def test_operation_implication_and_all(tmp_path):
    s = AclStore(str(tmp_path))
    s.enable()
    # ALLOW WRITE implies DESCRIBE (broker rule), not READ
    s.add(_b(operation="WRITE"))
    assert s.authorize("User:alice", "DESCRIBE", "topic", "ev")
    assert not s.authorize("User:alice", "READ", "topic", "ev")
    # ALTER_CONFIGS implies DESCRIBE_CONFIGS
    s.add(_b(principal="User:ops", operation="ALTER_CONFIGS"))
    assert s.authorize("User:ops", "DESCRIBE_CONFIGS", "topic", "ev")
    # ALL grants everything
    s.add(_b(principal="User:root", operation="ALL"))
    for op in ("READ", "WRITE", "DELETE", "ALTER_CONFIGS"):
        assert s.authorize("User:root", op, "topic", "ev")
    # deny-side implication is exact-or-ALL only: DENY WRITE does NOT
    # deny DESCRIBE
    s.add(_b(principal="User:root", operation="WRITE", permission="deny"))
    assert not s.authorize("User:root", "WRITE", "topic", "ev")
    assert s.authorize("User:root", "DESCRIBE", "topic", "ev")
    # requesting ALL as an operation is a caller bug
    with pytest.raises(ValueError, match="ALL"):
        s.authorize("User:alice", "ALL", "topic", "ev")


def test_super_users_and_allow_everyone(tmp_path):
    s = AclStore(str(tmp_path))
    s.enable()
    s.set_super_users(["User:admin"])
    assert s.authorize("User:admin", "DELETE", "topic", "anything")
    assert not s.authorize("User:mortal", "DELETE", "topic", "anything")
    s.set_allow_everyone_if_no_acl(True)
    assert s.authorize("User:mortal", "DELETE", "topic", "anything")
    # Kafka's flag applies only to resources with NO ACLs at all: once
    # ANY binding governs the resource, non-matching requests are denied
    # (a partially-ACLed topic is never world-opened)
    s.add(_b(principal="User:alice", operation="READ",
             resource_name="payments"))
    assert not s.authorize("User:bob", "WRITE", "topic", "payments")
    assert s.authorize("User:bob", "WRITE", "topic", "other")  # no ACLs
    # and an explicit deny wins on its resource, of course
    s.add(_b(principal="User:mortal", operation="DELETE",
             resource_name="anything", permission="deny"))
    assert not s.authorize("User:mortal", "DELETE", "topic", "anything")


def test_binding_validation():
    with pytest.raises(ValueError, match="resource type"):
        _b(resource_type="nope")
    with pytest.raises(ValueError, match="operation"):
        _b(operation="FROB")
    with pytest.raises(ValueError, match="principal"):
        _b(principal="alice")
    with pytest.raises(ValueError, match="LITERAL wildcard"):
        _b(resource_name="*", pattern_type="prefixed")
    with pytest.raises(ValueError, match="allow|deny"):
        _b(permission="maybe")


def test_topiclog_enforcement_produce_consume_admin(spark, tmp_path):
    """End-to-end enforcement at the transport surface: an unauthorized
    principal's produce/read/admin RAISES, the authorized principal's
    path is untouched, and the pre-ACL data is intact."""
    root = str(tmp_path / "bus")
    log = TopicLog(root)  # ANONYMOUS, no authorizer yet
    log.create_topic("ev", partitions=1)
    log.append("ev", [json.dumps({"i": i}) for i in range(5)], partition=0)

    s = AclStore(root)
    s.enable()
    s.add(_b(principal="User:etl", operation="WRITE"))
    s.add(_b(principal="User:etl", operation="READ"))
    s.add(_b(principal="User:etl", operation="READ",
             resource_type="group", resource_name="app"))

    etl = TopicLog(root, "User:etl")
    etl.append("ev", ["six"], partition=0)
    gen = etl.join_group("app")
    etl.commit_offsets("app", "ev", {0: 6}, generation=gen)
    # ANONYMOUS (no binding) is now denied everywhere
    anon = TopicLog(root)
    with pytest.raises(AuthorizationError, match="TOPIC_AUTHORIZATION"):
        anon.append("ev", ["x"], partition=0)
    with pytest.raises(AuthorizationError, match="GROUP_AUTHORIZATION"):
        anon.join_group("app")
    with pytest.raises(AuthorizationError):
        anon.delete_records("ev", {0: 1})
    with pytest.raises(AuthorizationError):
        anon.alter_configs("ev", {"retention.ms": 1000})
    with pytest.raises(AuthorizationError):
        anon.delete_topic("ev")
    with pytest.raises(AuthorizationError):
        anon.begin_txn("t1")
    with pytest.raises(AuthorizationError):
        anon.init_producer_id("p1")
    # the READ path is gated at plan time (datasource principal option)
    with pytest.raises(Exception, match="TOPIC_AUTHORIZATION"):
        read_topic(spark, root, "ev").count()
    df = read_topic(spark, root, "ev", principal="User:etl")
    assert df.count() == 6  # authorized reader sees pre-ACL data intact
    # the etl principal lacks DELETE: enforcement is per-operation
    with pytest.raises(AuthorizationError):
        etl.delete_topic("ev")


def test_acls_cli_roundtrip(tmp_path, capsys):
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from topiclog_admin import main

    root = str(tmp_path / "bus")
    TopicLog(root).create_topic("t")
    s = AclStore(root)
    # bootstrap: an EMPTY store may be set up by any operator — the
    # first management call establishes the admin authority
    assert s.can_manage("User:anyone")
    assert main(["--root", root, "acls",
                 "--super-users", "User:admin"]) == 0
    capsys.readouterr()
    # the store is now governed: only the super user (or a
    # cluster-ALTER grantee) manages — no privilege escalation through
    # a resource-level-only store, and no first-add lockout either
    assert not s.can_manage("User:rando")
    with pytest.raises(AuthorizationError):
        main(["--root", root, "--principal", "User:rando", "acls",
              "--add", "--deny-principal", "User:app",
              "--operation", "WRITE", "--topic", "logs-"])
    assert main(["--root", root, "--principal", "User:admin", "acls",
                 "--add", "--allow-principal", "User:app",
                 "--operation", "WRITE", "--topic", "logs-",
                 "--resource-pattern-type", "prefixed"]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["changed"] and out["binding"]["pattern_type"] == "prefixed"
    assert main(["--root", root, "acls"]) == 0  # listing is ungated
    listed = json.loads(capsys.readouterr().out)
    assert len(listed) == 1 and listed[0]["principal"] == "User:app"
    assert s.authorize("User:app", "WRITE", "topic", "logs-x")
    assert main(["--root", root, "--principal", "User:admin", "acls",
                 "--remove", "--allow-principal", "User:app",
                 "--operation", "WRITE", "--topic", "logs-",
                 "--resource-pattern-type", "prefixed"]) == 0
    assert json.loads(capsys.readouterr().out)["changed"]
    assert s.list() == []
