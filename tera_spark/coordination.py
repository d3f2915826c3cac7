"""Coordination arbiter: exclusive expiring claims behind a seam.

Everything in the engine that must pick ONE winner among racing
processes — the writer lease, the seq counter's lock (which also
guards the op-kinds summary), the rollbacks lock — reduces to a
single primitive, the GENERATION-SLOT claim:

    try_claim(slot, holder, ttl)  ->  exactly one racer returns True
    state(slot)                   ->  (generation, record | None)
    release(slot, holder)         ->  conditional release
    clear_dead(slot)              ->  GC of expired/torn records

The reference delegates this exact job to ZooKeeper (src/zk/ — tablet
servers hold ZK node locks, the master fences a dead server by
deleting its node). This module is the engine's seam for that role:
``Catalog`` takes any ``SlotArbiter`` and routes every claim through
it, so the arbiter backend can change without touching commit logic.

**Shipped backend and its deployment constraint.**
``PosixLinkArbiter`` arbitrates with ``os.link`` exclusivity and
therefore requires every writer to share ONE filesystem with
POSIX-atomic hard-link creation — a local disk, NFS (link is atomic
on NFSv3+), or Lustre/GPFS-class cluster filesystems. It is proved
single-winner under 16- and 32-process takeover storms
(scripts/scale_smoke_cas.py, SCALE.md §coordination). It is NOT
correct on object stores: S3/GCS have no hard links and no atomic
rename, so a 100 TB deployment whose table root lives on an object
store must bring a different arbiter.

**What an object-store/ZK backend looks like** (the sketch the seam
is shaped for; none is shipped because no such service exists in this
environment):

* *ZooKeeper / etcd* (the reference's own choice): a slot maps to a
  ZK node path; ``try_claim`` is a create of an ephemeral node (the
  session keepalive replaces the ttl record — expiry becomes session
  loss, strictly stronger than wall-clock ttl); generations map to
  the node's czxid, monotone per re-create; ``release`` deletes the
  node guarded by a version check; ``clear_dead`` is unnecessary (ZK
  GCs ephemerals).
* *Conditional-put object store / CAS KV* (S3 If-None-Match PUT,
  GCS x-goog-if-generation-match: 0, DynamoDB conditional writes):
  a slot maps to one object key; ``try_claim`` PUTs the record with
  an if-absent precondition, takeover of an expired record uses
  if-generation-match (compare-and-swap on the generation the racer
  read) — the same "target name is the arbiter" shape with the
  store's generation number replacing the ``.g<k>`` filename suffix;
  ``clear_dead`` is a conditional DELETE on the read generation.

The conditional-put shape IS shipped, as ``CasArbiter``: the full
claim/renew/takeover/release/GC protocol written against the minimal
``CasStore`` interface (get / put_if / delete_if — exactly the three
conditional operations every such service offers). A cloud
deployment implements ``CasStore`` over its service (a DynamoDB
conditional write, a GCS if-generation-match PUT) and reuses
``CasArbiter`` unchanged; the protocol is optimistic-CAS loops, never
an in-client lock, so it is correct against a REMOTE linearization
point. Two stores come with it: ``MemoryCasStore`` (one process,
thread-safe — the seam tests drive the whole lease/commit/heal
machinery through it) and ``serve_cas_store``/``connect_cas_store``,
which put a MemoryCasStore behind a socket so separate OS processes
share one linearization point — the storm harness runs the same 16/32
process takeover storm against it (``scale_smoke_cas.py storm
--arbiter cas``).

**Writing a cloud adapter is three lines of ceremony**::

    class DynamoCasStore(CasStore):
        ...  # get / put_if / delete_if, one service call each
    verify_cas_store(DynamoCasStore(table="locks"))   # must pass
    arbiter = CasArbiter(DynamoCasStore(table="locks"))

``verify_cas_store`` is the executable acceptance gate: basic
contract, generation monotonicity across delete/recreate (the ABA
requirement — GCS generations satisfy it natively, a naive DynamoDB
version attribute does NOT), single-winner-per-generation under
thread contention, and a takeover storm with ``clear_dead`` racing
the takeovers. Both shipped stores pass it
(tests/test_coordination_seam.py); the multi-process storm harness
(scripts/scale_smoke_cas.py, backend-agnostic) is the volume
complement.

The claim-record contract all backends share: a record is a JSON dict
``{"holder": str, "expires": epoch_seconds}``; a record past
``expires`` (or unreadable/torn) is DEAD and may be taken over; slot
records are immutable once published — renewal/takeover publishes a
new generation, never rewrites — which is what makes reader-side
healing (catalog._reader_heal) race-free.
"""

from __future__ import annotations

import json
import time
from abc import ABC, abstractmethod
from pathlib import Path


class SlotArbiter(ABC):
    """Exclusive expiring claim slots. See module docstring for the
    contract; ``p`` is the slot's base path (backends that are not
    path-shaped map it to their own key space)."""

    @abstractmethod
    def try_claim(self, p: Path, holder: str, ttl_s: float, *, renew: bool = False) -> bool:
        """One attempt at the slot. True iff this call now holds it.
        A live foreign record loses; expired/torn records are taken
        over; a live record of our own holder loses unless ``renew``
        (mutual exclusion for spin-lock reuse of one writer_id)."""

    @abstractmethod
    def state(self, p: Path):
        """(generation, record | None-if-torn) of the current claim,
        or None for an empty slot."""

    @abstractmethod
    def release(self, p: Path, holder: str) -> None:
        """Conditional release: drop the current record only while it
        still names ``holder``."""

    @abstractmethod
    def clear_dead(self, p: Path) -> None:
        """Remove every record of the slot that is expired or torn;
        never a live one (reader-heal GC)."""


class PosixLinkArbiter(SlotArbiter):
    """Generation-slot claims arbitrated by ``os.link`` exclusivity.

    Requires all writers to share one POSIX filesystem where hard-link
    creation is atomic and exclusive (local disk, NFSv3+, Lustre).
    NOT for object-store table roots — see the module docstring.

    Design (round 6, unchanged here — only moved behind the seam):
    a slot is a family of immutable generation files (plain path =
    gen 0, ``<name>.g<k>`` above it); the current record is the
    highest generation. Acquire/takeover/renewal all publish
    generation ``highest+1`` by hard-linking a fully-written temp —
    the TARGET NAME is the arbiter: os.link is exclusive, so exactly
    one racer can ever create a given generation. After winning a
    name, the winner re-globs and retracts if a higher generation
    appeared (a release/cleanup race can let two racers win DIFFERENT
    generations; the higher one keeps, deterministically), then
    unlinks the superseded lower generations.

    History: round 5 arbitrated expired-claim takeover by renaming the
    dead record ASIDE and re-racing an exclusive link-create. That
    passed the two-process hammer, but the 16-process takeover storm
    (scripts/scale_smoke_cas.py storm) exposed a three-party hole:
    racer B renames winner A's FRESH claim aside (stale expired read),
    and while B verifies-and-restores, racer C's link-create wins the
    momentarily-empty slot — A and C both return True. The root cause
    is any protocol step that makes a live slot momentarily ABSENT;
    this design never renames and never rewrites.
    """

    @staticmethod
    def _slot_files(p: Path) -> list:
        """All generation files of a claim slot, sorted by generation.
        Every slot file is IMMUTABLE after creation (link-published
        with content; never rewritten), which is what makes concurrent
        reads/unlinks of dead generations safe."""
        out = []
        if p.exists():
            out.append((0, p))
        prefix = p.name + ".g"
        for f in p.parent.glob(p.name + ".g*"):
            suffix = f.name[len(prefix):]
            if suffix.isdigit():
                out.append((int(suffix), f))
        out.sort()
        return out

    def state(self, p: Path):
        """A file unlinked between glob and read (a racer's cleanup)
        falls through to the next lower generation — stale-low answers
        are tolerated because every winner re-verifies it holds the
        highest generation."""
        files = self._slot_files(p)
        while files:
            gen, f = files.pop()
            try:
                return gen, json.loads(f.read_text())
            except FileNotFoundError:
                continue
            except (OSError, json.JSONDecodeError):
                return gen, None  # torn record = dead holder
        return None

    def try_claim(self, p: Path, holder: str, ttl_s: float, *, renew: bool = False) -> bool:
        import os
        import uuid

        d = p.parent
        while True:
            st = self.state(p)
            if st is None:
                target = 0
            else:
                gen, rec = st
                if rec is not None and rec.get("expires", 0) > time.time():
                    if rec.get("holder") != holder or not renew:
                        return False  # live claim (foreign, or ours sans renew)
                target = gen + 1
            tgt = p if target == 0 else d / f"{p.name}.g{target}"
            tmp = d / f"{p.name}.w-{uuid.uuid4().hex}"
            tmp.write_text(json.dumps({"holder": holder, "expires": time.time() + ttl_s}))
            try:
                os.link(str(tmp), str(tgt))
            except FileExistsError:
                continue  # someone else took this generation: re-read
            finally:
                tmp.unlink(missing_ok=True)
            files = self._slot_files(p)
            if files and files[-1][0] > target:
                # a higher generation landed concurrently (possible only
                # through a release/cleanup race): the higher wins
                tgt.unlink(missing_ok=True)
                continue
            for g, f in files:
                if g < target:
                    f.unlink(missing_ok=True)  # superseded, immutable, dead
            return True

    def release(self, p: Path, holder: str) -> None:
        """Conditional on the record naming ``holder``. A FOREIGN
        takeover record can never be deleted here: takeovers always
        publish a HIGHER generation under the taker's holder id, the
        names are create-exclusive, and this unlink targets only a
        generation whose record was read as ours. The residual
        check->unlink corner is same-holder only — a stale release
        (e.g. an old thread of this process) can delete our own newer
        renewal record, opening the slot early. It needs a holder that
        outlived its own ttl, the contract every claim already rests
        on."""
        st = self.state(p)
        if st is None:
            return
        gen, rec = st
        if rec is not None and rec.get("holder") == holder:
            f = p if gen == 0 else p.parent / f"{p.name}.g{gen}"
            f.unlink(missing_ok=True)

    def clear_dead(self, p: Path) -> None:
        """Safe by immutability: each unlink targets a specific file
        whose content was read as dead; a live claim (or a fresh
        takeover's new generation) is never removed."""
        now = time.time()
        for _gen, f in self._slot_files(p):
            try:
                rec = json.loads(f.read_text())
            except FileNotFoundError:
                continue
            except (OSError, json.JSONDecodeError):
                rec = None
            if rec is None or rec.get("expires", 0) <= now:
                f.unlink(missing_ok=True)


# --------------------------------------------------------------------------
# conditional-put backend (the cloud shape)
# --------------------------------------------------------------------------


class CasStore(ABC):
    """The minimal service boundary a conditional-put arbiter needs —
    the three operations every CAS-capable store offers (DynamoDB
    conditional writes, GCS if-generation-match, etcd txn, S3
    If-None-Match). Keys are opaque strings; values are opaque strings;
    the GENERATION is the store's own monotone version for a key and is
    the only thing preconditions compare. Implementations must make
    each method atomic against the store's linearization point (a
    remote service call, a locked map, one SQL statement) — the arbiter
    on top never holds a client-side lock.

    REQUIRED: generations must be monotone for a key ACROSS
    delete/recreate, never just within one key lifetime. If a
    recreated key can reuse a prior generation, the arbiter's takeover
    CAS is ABA-vulnerable: a racer holding a stale (gen, dead-record)
    snapshot could overwrite a fresh claim that happens to land on the
    same generation number. GCS object generations satisfy this
    natively; a DynamoDB version-attribute scheme must persist a
    tombstone (or derive the version from a monotone source) rather
    than start recreated items back at 0."""

    @abstractmethod
    def get(self, key: str):
        """(generation, value) or None for an absent key."""

    @abstractmethod
    def put_if(self, key: str, value: str, if_gen: int | None) -> bool:
        """Write iff the precondition holds: ``if_gen=None`` means the
        key must be ABSENT (If-None-Match / attribute_not_exists);
        otherwise the key's current generation must equal ``if_gen``
        (if-generation-match). A successful put bumps the generation."""

    @abstractmethod
    def delete_if(self, key: str, if_gen: int) -> bool:
        """Delete iff the key's current generation equals ``if_gen``."""


class MemoryCasStore(CasStore):
    """Linearizable conditional-put KV inside one process: the lock is
    the linearization point. Drives the seam tests and is the template
    a remote store copies — every method is one atomic round-trip.

    Generations are monotone across delete/recreate (the ABC's ABA
    requirement): ``_last_gen`` remembers the highest generation a key
    ever held, and an absent-create resumes at last+1 instead of 0, so
    a stale ``put_if(if_gen=old)`` can never succeed against a key
    that was deleted and re-claimed in between."""

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._kv: dict = {}
        self._last_gen: dict = {}

    def get(self, key: str):
        with self._lock:
            return self._kv.get(key)

    def put_if(self, key: str, value: str, if_gen: int | None) -> bool:
        with self._lock:
            cur = self._kv.get(key)
            if if_gen is None:
                if cur is not None:
                    return False
                gen = self._last_gen.get(key, -1) + 1
            else:
                if cur is None or cur[0] != if_gen:
                    return False
                gen = if_gen + 1
            self._kv[key] = (gen, value)
            self._last_gen[key] = gen
            return True

    def delete_if(self, key: str, if_gen: int) -> bool:
        with self._lock:
            cur = self._kv.get(key)
            if cur is None or cur[0] != if_gen:
                return False
            # _last_gen survives the delete — that tombstone is what
            # keeps generations monotone when the key is re-created
            del self._kv[key]
            return True


def verify_cas_store(store: CasStore, *, racers: int = 8, storm_rounds: int = 20) -> dict:
    """Conformance battery for a ``CasStore`` implementation — the
    executable form of the ABC's contract, so "implement 3 methods and
    reuse the protocol" is checkable by the person writing the adapter.
    Runs entirely through the public 3-method API under a unique key
    namespace (safe against a live/shared store) and raises
    ``AssertionError`` with a named check on the first violation;
    returns a report dict when everything holds.

    A new adapter is three lines of ceremony::

        class DynamoCasStore(CasStore):
            ...  # get / put_if / delete_if, each one service call
        verify_cas_store(DynamoCasStore(table="locks"))   # must pass
        arbiter = CasArbiter(DynamoCasStore(table="locks"))

    What is checked, in order:

    1. **Basic contract** — absent get is None; ``put_if(if_gen=None)``
       creates and fails on an existing key; a stale or absent
       generation precondition fails; a correct one succeeds and BUMPS
       the generation; ``delete_if`` honors its precondition.
    2. **Generation monotonicity across delete/recreate** — the ABA
       requirement: a recreated key must never reuse a prior
       generation, and a precondition captured before the
       delete/recreate cycle must fail afterwards.
    3. **Single winner per generation** — ``racers`` threads race
       ``put_if`` at one observed generation (and at absent-create):
       exactly one succeeds. Threads model concurrent clients; a
       remote-store adapter's proxy must be thread-safe or hand out
       per-thread connections (multiprocessing.BaseManager proxies do).
    4. **Arbiter takeover storm** — ``storm_rounds`` expired records,
       ``racers`` threads per round racing ``CasArbiter.try_claim``:
       exactly one winner each round, the surviving record live, and a
       ``clear_dead`` racing each takeover (the ABA interleaving from
       the round-9 advice) never yields a second winner.
    """
    import threading
    import uuid

    ns = f"/casconf-{uuid.uuid4().hex}/"
    report: dict = {}

    # -- 1. basic contract ------------------------------------------------
    k = ns + "basic"
    assert store.get(k) is None, "absent get must be None"
    assert store.put_if(k, "v0", None), "absent-create must succeed"
    cur = store.get(k)
    assert cur is not None and cur[1] == "v0", "get must return the put value"
    g0 = cur[0]
    assert not store.put_if(k, "x", None), "absent-create on existing key must fail"
    assert not store.put_if(k, "x", g0 + 1), "wrong-generation put must fail"
    assert store.put_if(k, "v1", g0), "correct-generation put must succeed"
    g1 = store.get(k)[0]
    assert g1 > g0, "successful put must bump the generation"
    assert not store.delete_if(k, g0), "stale-generation delete must fail"
    assert store.delete_if(k, g1), "correct-generation delete must succeed"
    assert store.get(k) is None, "deleted key must read absent"
    report["basic_contract"] = True

    # -- 2. generation monotonicity across delete/recreate ----------------
    k = ns + "aba"
    assert store.put_if(k, "a", None)
    g_old = store.get(k)[0]
    assert store.delete_if(k, g_old)
    assert store.put_if(k, "c", None)
    g_new = store.get(k)[0]
    assert g_new > g_old, (
        "generation reused across delete/recreate — the arbiter's takeover "
        "CAS is ABA-vulnerable on this store (see CasStore docstring)"
    )
    assert not store.put_if(k, "stale", g_old), "pre-recreate precondition must fail"
    assert store.get(k)[1] == "c", "the fresh claim must survive the stale CAS"
    report["generation_monotone_across_recreate"] = True

    # -- 3. single winner per generation under thread contention ----------
    def _race(fn) -> int:
        wins = []
        gate = threading.Barrier(racers)

        def run():
            gate.wait()
            if fn():
                wins.append(1)

        ts = [threading.Thread(target=run) for _ in range(racers)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return len(wins)

    k = ns + "race-create"
    n = _race(lambda: store.put_if(k, "w", None))
    assert n == 1, f"absent-create race: {n} winners (exactly 1 required)"
    gen = store.get(k)[0]
    n = _race(lambda: store.put_if(k, "w2", gen))
    assert n == 1, f"same-generation CAS race: {n} winners (exactly 1 required)"
    report["single_winner_per_generation"] = True

    # -- 4. arbiter takeover storm (+ clear_dead racing the takeover) -----
    arb = CasArbiter(store)
    storm_wins = 0
    for r in range(storm_rounds):
        p = Path(ns + f"storm/claim-{r}.lock")
        assert store.put_if(str(p), json.dumps({"holder": "dead", "expires": 0.0}), None)
        # odd rounds: one extra racer is a clear_dead instead of a
        # claimer — the delete/recreate interleaving the monotonicity
        # rule exists for
        with_clearer = bool(r % 2)
        gate = threading.Barrier(racers + (1 if with_clearer else 0))
        wins = []

        def claim(i):
            gate.wait()
            if arb.try_claim(p, f"h{i}", 3600.0):
                wins.append(i)

        def clear():
            gate.wait()
            arb.clear_dead(p)

        clearer = threading.Thread(target=clear) if with_clearer else None
        if clearer is not None:
            clearer.start()
        ts = [threading.Thread(target=claim, args=(i,)) for i in range(racers)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        if clearer is not None:
            clearer.join()
        assert len(wins) == 1, f"storm round {r}: {len(wins)} winners"
        st = arb.state(p)
        assert st is not None and st[1]["holder"] == f"h{wins[0]}", (
            f"storm round {r}: surviving record is not the winner's"
        )
        assert st[1]["expires"] > time.time(), f"storm round {r}: surviving claim not live"
        storm_wins += 1
    report["takeover_storm_rounds"] = storm_wins
    report["racers"] = racers
    return report


def serve_cas_store(authkey: bytes = b"tera-cas"):
    """Put a MemoryCasStore behind a localhost socket so SEPARATE OS
    processes share one linearization point — the stand-in for the
    remote service a cloud deployment would call. Returns
    ``(manager, address)``; pass the address (host, port) and authkey
    to ``connect_cas_store`` in each client process. Shut down with
    ``manager.shutdown()``."""
    from multiprocessing.managers import BaseManager

    store = MemoryCasStore()

    class _Mgr(BaseManager):
        pass

    _Mgr.register("store", callable=lambda: store)
    mgr = _Mgr(address=("127.0.0.1", 0), authkey=authkey)
    mgr.start()
    return mgr, mgr.address


def connect_cas_store(address, authkey: bytes = b"tera-cas") -> CasStore:
    """Client side of ``serve_cas_store``: every get/put_if/delete_if
    is an RPC the server applies atomically — the same trust shape as
    a DynamoDB conditional write."""
    from multiprocessing.managers import BaseManager

    class _Mgr(BaseManager):
        pass

    _Mgr.register("store")
    mgr = _Mgr(address=tuple(address), authkey=authkey)
    mgr.connect()
    return mgr.store()


class CasArbiter(SlotArbiter):
    """Generation-slot claims over any ``CasStore`` — the shipped
    conditional-put backend (promoted from the round-7 seam test).

    The protocol is optimistic: read the slot, decide, then write with
    the read generation as the precondition. A lost CAS means a racer
    moved first — re-read and re-decide; exactly one racer's
    precondition can hold per generation, which is the single-winner
    argument (the store's version check replaces PosixLinkArbiter's
    exclusive os.link). No step ever makes a live slot absent, the
    invariant the round-6 storm taught (coordination.py history note).

    Slot base paths map to string keys verbatim, one key per slot —
    the store's generation plays the role the ``.g<k>`` filename
    suffix plays on POSIX, so there are no per-generation keys to GC.
    """

    def __init__(self, store: CasStore):
        self.store = store

    @staticmethod
    def _parse(raw: str):
        try:
            return json.loads(raw)
        except (ValueError, TypeError):
            return None  # torn record = dead holder

    def state(self, p: Path):
        cur = self.store.get(str(p))
        if cur is None:
            return None
        gen, raw = cur
        return gen, self._parse(raw)

    def try_claim(self, p: Path, holder: str, ttl_s: float, *, renew: bool = False) -> bool:
        key = str(p)
        while True:
            rec = json.dumps({"holder": holder, "expires": time.time() + ttl_s})
            cur = self.store.get(key)
            if cur is None:
                if self.store.put_if(key, rec, None):
                    return True
                continue  # lost the empty-slot race: re-read, re-decide
            gen, raw = cur
            r = self._parse(raw)
            if r is not None and r.get("expires", 0) > time.time():
                if r.get("holder") != holder or not renew:
                    return False  # live claim (foreign, or ours sans renew)
            if self.store.put_if(key, rec, gen):
                return True
            # takeover CAS lost: someone else claimed this generation

    def release(self, p: Path, holder: str) -> None:
        cur = self.store.get(str(p))
        if cur is None:
            return
        gen, raw = cur
        r = self._parse(raw)
        if r is not None and r.get("holder") == holder:
            # generation-guarded: if the holder renewed concurrently the
            # precondition fails and the newer record survives — the
            # same-holder stale-release corner PosixLinkArbiter documents
            # is CLOSED here by the version check
            self.store.delete_if(str(p), gen)

    def clear_dead(self, p: Path) -> None:
        cur = self.store.get(str(p))
        if cur is None:
            return
        gen, raw = cur
        r = self._parse(raw)
        if r is None or r.get("expires", 0) <= time.time():
            self.store.delete_if(str(p), gen)
