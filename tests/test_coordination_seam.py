"""The coordination seam: every exclusive claim in the catalog routes
through a SlotArbiter, so the POSIX hard-link backend can be swapped
for a ZooKeeper/conditional-put service without touching commit
logic. These tests pin (a) the PosixLinkArbiter contract at the seam
and (b) that a completely different backend — an in-memory CAS map,
the shape of a DynamoDB/GCS-generation arbiter — drives the full
lease + CAS-commit machinery."""

from __future__ import annotations


import time
from pathlib import Path

import pytest

from tera_spark.coordination import PosixLinkArbiter


def _cas_arbiter():
    """The shipped conditional-put backend (promoted from this file's
    round-7 DictArbiter fixture): CasArbiter over an in-process
    MemoryCasStore — the same compare-and-swap shape a DynamoDB
    conditional write or a GCS if-generation-match PUT provides."""
    from tera_spark.coordination import CasArbiter, MemoryCasStore

    return CasArbiter(MemoryCasStore())


# -- PosixLinkArbiter contract at the seam ------------------------------


def test_posix_arbiter_contract(tmp_path):
    arb = PosixLinkArbiter()
    p = tmp_path / "s.lock"
    assert arb.state(p) is None
    assert arb.try_claim(p, "a", 60.0)
    assert not arb.try_claim(p, "b", 60.0)  # live foreign record loses
    gen, rec = arb.state(p)
    assert rec["holder"] == "a"
    arb.release(p, "b")  # wrong holder: no-op
    assert arb.state(p) is not None
    arb.release(p, "a")
    assert arb.state(p) is None


def test_posix_arbiter_expired_takeover_and_clear_dead(tmp_path):
    arb = PosixLinkArbiter()
    p = tmp_path / "s.lock"
    assert arb.try_claim(p, "dead", 0.01)
    time.sleep(0.05)
    assert arb.try_claim(p, "taker", 60.0)  # expired record taken over
    assert arb.state(p)[1]["holder"] == "taker"
    arb.clear_dead(p)  # live claim never removed
    assert arb.state(p)[1]["holder"] == "taker"
    arb.release(p, "taker")
    assert arb.try_claim(p, "dead2", 0.01)
    time.sleep(0.05)
    arb.clear_dead(p)
    assert arb.state(p) is None


# -- a non-POSIX backend drives the catalog end-to-end ------------------


@pytest.fixture()
def cas_cat(spark, tmp_path):
    from tera_spark.catalog import Catalog

    return Catalog(spark, str(tmp_path / "cat"), writer_id="w1", arbiter=_cas_arbiter())


def test_cas_arbiter_lease_and_cas_commit(cas_cat, spark, tmp_path):
    from tera_spark.catalog import Catalog, WriterFenced
    from tera_spark.operators.mutation import MutationBatch

    cat = cas_cat
    cat.create_table("t { d }")
    cat.acquire_writer_lease("t", "w1")
    cat.acquire_writer_lease("t", "w1")  # renewal through the seam
    # a second catalog SHARING the arbiter is fenced
    other = Catalog(spark, str(cat.root), writer_id="w2", arbiter=cat.arbiter)
    with pytest.raises(WriterFenced):
        other.acquire_writer_lease("t", "w2")
    cat.append_cas("t", MutationBatch().put("r1", "d", "q", "v1", ts=1))
    cat.append_cas("t", MutationBatch().put("r2", "d", "q", "v2", ts=1))
    rows = {r.row_key for r in cat.view("t").collect()}
    assert rows == {"r1", "r2"}
    cat.release_writer_lease("t", "w1")
    other.acquire_writer_lease("t", "w2")  # free after release


def test_cas_arbiter_no_claim_files_on_disk(cas_cat):
    """With a service-backed arbiter, no lock/lease files touch the
    table root — the proof the commit path has no hidden POSIX claim
    dependency outside the seam."""
    from tera_spark.operators.mutation import MutationBatch

    cat = cas_cat
    cat.create_table("t { d }")
    cat.acquire_writer_lease("t", "w1")
    cat.append_cas("t", MutationBatch().put("r", "d", "q", "v", ts=1))
    assert cat.view("t").count() == 1
    files = {p.name for p in Path(cat.root).rglob("*") if p.is_file()}
    assert not any(".lock" in n or n == "writer.lease" for n in files), files


# -- generation monotonicity across delete/recreate (ABA guard) --------


def test_cas_store_generation_monotone_across_recreate():
    """A recreated key must NOT resume at generation 0: if it did, a
    stale precondition captured before a delete/recreate cycle could
    still hold afterwards (the ABA the CasStore ABC forbids)."""
    from tera_spark.coordination import MemoryCasStore

    st = MemoryCasStore()
    assert st.put_if("k", "a", None)
    gen0 = st.get("k")[0]
    assert st.delete_if("k", gen0)
    assert st.put_if("k", "c", None)
    gen1 = st.get("k")[0]
    assert gen1 > gen0  # monotone across the delete/recreate boundary
    assert not st.put_if("k", "stale", gen0)  # the ABA write must lose
    assert st.get("k")[1] == "c"


def test_cas_arbiter_aba_takeover_vs_clear_dead_race():
    """The exact interleaving the takeover CAS must survive: A snapshots
    a DEAD record at generation g; between A's read and A's conditional
    put, another process clear_dead()s the slot and C claims it fresh.
    A's put_if(if_gen=g) must fail — exactly one winner (C) — which
    holds only because generations are monotone across recreate."""
    from tera_spark.coordination import CasArbiter, MemoryCasStore

    inner = MemoryCasStore()
    p = Path("/aba/claim-0.lock")
    plain = CasArbiter(inner)
    assert plain.try_claim(p, "dead", 0.01)
    time.sleep(0.05)  # the claim is now a dead record

    class _RacedStore(MemoryCasStore):
        """Delegates to ``inner`` but fires the clear_dead + C-claim
        race once, right after A's first snapshot of the slot — so A
        proceeds into its takeover CAS holding a stale (gen, record)."""

        def __init__(self):
            self._fired = False

        def get(self, key):
            snap = inner.get(key)
            if not self._fired and key == str(p):
                self._fired = True
                plain.clear_dead(p)
                assert plain.try_claim(p, "c", 60.0)
            return snap

        def put_if(self, key, value, if_gen):
            return inner.put_if(key, value, if_gen)

        def delete_if(self, key, if_gen):
            return inner.delete_if(key, if_gen)

    a = CasArbiter(_RacedStore())
    assert not a.try_claim(p, "a", 60.0)  # A must lose, not overwrite C
    assert plain.state(p)[1]["holder"] == "c"


# -- CasStore conformance battery (the adapter-author's gate) ----------


def test_conformance_battery_memory_store():
    """verify_cas_store() green against the in-process reference store
    — the same battery a DynamoDB/GCS adapter runs unmodified."""
    from tera_spark.coordination import MemoryCasStore, verify_cas_store

    report = verify_cas_store(MemoryCasStore())
    assert report["basic_contract"]
    assert report["generation_monotone_across_recreate"]
    assert report["single_winner_per_generation"]
    assert report["takeover_storm_rounds"] == 20


def test_conformance_battery_served_store():
    """The battery also passes over the socket-served store — proving
    it exercises only the remote-callable surface (no reliance on
    in-process internals), which is what makes it reusable against a
    real cloud adapter."""
    from tera_spark.coordination import connect_cas_store, serve_cas_store, verify_cas_store

    mgr, addr = serve_cas_store()
    try:
        report = verify_cas_store(connect_cas_store(addr), racers=4, storm_rounds=6)
        assert report["takeover_storm_rounds"] == 6
    finally:
        mgr.shutdown()


def test_conformance_battery_rejects_aba_vulnerable_store():
    """A store whose recreated keys restart at generation 0 (the naive
    DynamoDB version-attribute scheme) must FAIL the battery — the
    check exists to stop exactly this adapter from shipping."""
    from tera_spark.coordination import MemoryCasStore, verify_cas_store

    class NaiveStore(MemoryCasStore):
        def put_if(self, key, value, if_gen):
            with self._lock:
                cur = self._kv.get(key)
                if if_gen is None:
                    if cur is not None:
                        return False
                    self._kv[key] = (0, value)  # recreate at 0: the bug
                    return True
                if cur is None or cur[0] != if_gen:
                    return False
                self._kv[key] = (if_gen + 1, value)
                return True

    with pytest.raises(AssertionError, match="ABA-vulnerable"):
        verify_cas_store(NaiveStore())


# -- served store: one linearization point across connections ----------


def test_served_cas_store_cross_connection():
    """serve_cas_store exposes ONE MemoryCasStore over a socket; two
    independent client connections must see each other's conditional
    puts (the multi-process storm runs the same thing with OS
    processes: scale_smoke_cas.py storm --arbiter cas)."""
    from tera_spark.coordination import CasArbiter, connect_cas_store, serve_cas_store

    mgr, addr = serve_cas_store()
    try:
        a = CasArbiter(connect_cas_store(addr))
        b = CasArbiter(connect_cas_store(addr))
        p = Path("/svc/claim-0.lock")
        assert a.try_claim(p, "a", 60.0)
        assert not b.try_claim(p, "b", 60.0)  # sees a's live claim
        gen, rec = b.state(p)
        assert rec["holder"] == "a"
        a.release(p, "a")
        assert b.try_claim(p, "b", 60.0)
    finally:
        mgr.shutdown()
