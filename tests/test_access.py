"""ACL / quota layer (reference: client.h:78-84 user admin,
table_schema.proto admin/admin_group, quota.proto table quotas)."""

from __future__ import annotations

import pytest

from tera_spark.access import AccessControl, AccessDenied, QuotaExceeded
from tera_spark.catalog import Catalog


def test_user_lifecycle_and_groups(tmp_path):
    ac = AccessControl(tmp_path, policy="ugi")
    ac.create_user("alice", "s3cret")
    assert ac.check_login("alice", "s3cret")
    assert not ac.check_login("alice", "wrong")
    ac.change_pwd("alice", "n3w")
    assert ac.check_login("alice", "n3w")
    ac.add_user_to_group("alice", "ops")
    with pytest.raises(ValueError):
        ac.create_user("alice", "again")
    ac.delete_user_from_group("alice", "ops")
    ac.delete_user("alice")
    assert not ac.check_login("alice", "n3w")


def test_admin_policy_admin_and_group(tmp_path):
    ac = AccessControl(tmp_path, policy="ugi")
    ac.create_user("alice", "a")
    ac.create_user("bob", "b")
    ac.create_user("carol", "c")
    ac.add_user_to_group("carol", "ops")
    ac.set_table_policy("t1", admin="alice", admin_group="ops")
    assert ac.can_admin("alice", "t1")
    assert ac.can_admin("carol", "t1")  # via admin_group
    assert not ac.can_admin("bob", "t1")
    assert not ac.can_admin(None, "t1")
    # unrestricted table: any authenticated user can admin
    assert ac.can_admin("bob", "t_open")
    with pytest.raises(AccessDenied):
        ac.authorize("bob", "admin", "t1")
    with pytest.raises(AccessDenied):
        ac.authorize("mallory", "read", "t1")  # unknown user


def test_none_policy_is_inert(tmp_path):
    ac = AccessControl(tmp_path)  # policy="none"
    ac.authorize(None, "admin", "whatever")
    ac.set_quota("t", "write_reqs", 1)
    # quotas still meter even under none-auth (reference: quota is
    # orthogonal to auth policy)
    ac.check_and_consume("t", [("write_reqs", 1)], now_s=100.0)
    with pytest.raises(QuotaExceeded):
        ac.check_and_consume("t", [("write_reqs", 1)], now_s=100.5)


def test_quota_window_refill_and_atomicity(tmp_path):
    ac = AccessControl(tmp_path)
    ac.set_quota("t", "write_reqs", 2, period_s=1)
    ac.set_quota("t", "write_bytes", 100, period_s=1)
    ac.check_and_consume("t", [("write_reqs", 1), ("write_bytes", 60)], now_s=10.0)
    # second write: reqs fit (2nd of 2) but bytes would overflow → the
    # WHOLE list must be rejected and nothing consumed
    with pytest.raises(QuotaExceeded):
        ac.check_and_consume("t", [("write_reqs", 1), ("write_bytes", 60)], now_s=10.2)
    ac.check_and_consume("t", [("write_reqs", 1), ("write_bytes", 40)], now_s=10.4)
    # next period: fresh grant
    ac.check_and_consume("t", [("write_reqs", 2), ("write_bytes", 100)], now_s=11.1)
    # unknown op in the list is ignored (no quota configured for reads)
    ac.check_and_consume("t", [("read_reqs", 999)], now_s=11.2)
    assert "write_reqs" in ac.show_quota()["t"]
    ac.del_quota("t")
    ac.check_and_consume("t", [("write_reqs", 999)], now_s=11.3)


@pytest.mark.slow
def test_catalog_enforcement(spark, tmp_path):
    ac = AccessControl(tmp_path, policy="ugi")
    ac.create_user("alice", "a")
    ac.create_user("bob", "b")
    ac.set_table_policy("t", admin="alice")

    alice = Catalog(spark, str(tmp_path), access=ac, user="alice")
    bob = Catalog(spark, str(tmp_path), access=ac, user="bob")
    anon = Catalog(spark, str(tmp_path), access=ac, user=None)

    alice.create_table("t { cf0 }")
    cells = spark.createDataFrame(
        [("r1", "cf0", "q", 1, 5, bytearray(b"v"), 1)],
        "row_key string, cf string, qualifier string, ts long, op int, value binary, seq long",
    )
    bob.append("t", cells)  # any authenticated user may write
    assert bob.view("t").count() == 1
    with pytest.raises(AccessDenied):
        anon.append("t", cells)
    with pytest.raises(AccessDenied):
        bob.disable_table("t")  # admin-only
    sch = alice.get_schema("t")
    with pytest.raises(AccessDenied):
        bob.update_schema(sch)
    alice.disable_table("t")
    with pytest.raises(AccessDenied):
        bob.drop_table("t")
    alice.drop_table("t")


def test_catalog_write_quota(spark, tmp_path):
    ac = AccessControl(tmp_path)  # auth off, quota on
    ac.set_quota("t", "write_reqs", 1, period_s=3600)
    cat = Catalog(spark, str(tmp_path), access=ac)
    cat.create_table("t { cf0 }")
    cells = spark.createDataFrame(
        [("r1", "cf0", "q", 1, 5, bytearray(b"v"), 1)],
        "row_key string, cf string, qualifier string, ts long, op int, value binary, seq long",
    )
    cat.append("t", cells)
    with pytest.raises(QuotaExceeded):
        cat.append("t", cells)


def test_cli_user_and_quota_commands(tmp_path, capsys):
    from tera_spark.cli import main

    root = str(tmp_path)
    assert main(["--root", root, "user", "create", "alice", "pw"]) == 0
    assert main(["--root", root, "user", "addtogroup", "alice", "ops"]) == 0
    assert main(["--root", root, "quota", "set", "t1", "WRITEREQS=1000/2", "SCANBYTES=50"]) == 0
    assert main(["--root", root, "quota", "show"]) == 0
    out = capsys.readouterr().out
    assert "t1 write_reqs limit=1000 period=2s" in out
    assert "t1 scan_bytes limit=50 period=1s" in out
    # -1 clears a single op; delete clears the table
    assert main(["--root", root, "quota", "set", "t1", "SCANBYTES=-1"]) == 0
    assert main(["--root", root, "quota", "delete", "t1"]) == 0
    ac = AccessControl(tmp_path)
    assert ac.show_quota() == {}
    assert ac.check_login("alice", "pw")


def test_admin_ops_enforce_acl(spark, tmp_path):
    """Maintenance-class catalog ops (snapshot/compact/optimize/
    maintenance/snapshot sets/diff/stats) enforce the same ACL as DDL:
    a non-admin user is denied; the table admin passes."""
    import pytest

    from tera_spark.access import AccessControl, AccessDenied
    from tera_spark.catalog import Catalog
    from tera_spark.operators.mutation import MutationBatch

    ac = AccessControl(str(tmp_path / "acl"), policy="ugi")
    ac.create_user("boss", "pw")
    ac.create_user("intern", "pw")
    boss = Catalog(spark, str(tmp_path / "cat"), access=ac, user="boss")
    boss.create_table("t { d }")
    ac.set_table_policy("t", admin="boss")
    b = MutationBatch(base_seq=1)
    b.put("r", "d", "q", "v", ts=1)
    boss.append("t", b.to_df(spark), commit_seq=1, op_kinds=b.op_kinds)

    intern = Catalog(spark, str(tmp_path / "cat"), access=ac, user="intern")
    for call in (
        lambda: intern.snapshot("t"),
        lambda: intern.compact_inplace("t"),
        lambda: intern.compact_ranges("t"),
        lambda: intern.maintenance("t", apply=False),
        lambda: intern.optimize("t"),
        lambda: intern.snapshot_set(["t"]),
        lambda: intern.expire_snapshots("t", keep_last=0),
    ):
        with pytest.raises(AccessDenied):
            call()

    sid = boss.snapshot("t")
    assert boss.maintenance("t", apply=False)["action"] in ("none", "minor", "optimize", "major")
    set_id = boss.snapshot_set(["t"])
    boss.restore_snapshot_set(set_id)
    boss.delete_snapshot("t", sid)
