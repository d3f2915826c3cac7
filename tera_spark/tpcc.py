"""TPC-C transactions over the cell model, with a mock oracle.

The reference validates its engine end-to-end by running the five
TPC-C transactions against tera tables and comparing with an
in-memory mock database (`src/benchmark/tpcc/tpccdb.h:326-452`
interface; `mock_tpccdb.h` oracle; tera implementation
`tera_tpccdb.cc` with manually-maintained secondary-index tables
`tpcc_schemas/t_customer_last_index`, `t_order_index`). This module
transliterates that strategy: `SparkTpccDb` implements
NewOrder/Payment/OrderStatus/Delivery/StockLevel over ONE cell table
(BigTable-idiomatic entity-prefixed row keys; the reference uses one
tera table per entity — same data model, different prefix policy),
and `MockTpccDb` is the dict-based oracle the test compares against.

Monetary values are integer cents; every mutation of a transaction
lands in one MutationBatch (per-row atomicity through one commit —
the group-commit guarantee tera gives a RowMutation, extended to the
whole txn by the single-committer model, see operators/txn.py).

Row-key layout (sorted, so entity scans are range scans):
    d|W|D          district        next_o_id, ytd
    c|W|D|C        customer        balance, ytd_payment, payment_cnt, last
    i|I            item            price, name
    s|W|I          stock           qty
    o|W|D|O        order           c_id, ol_cnt, carrier, delivered
    ol|W|D|O|L     order line      i_id, qty, amount
    no|W|D         new-order row   qualifier per undelivered O ("1")
    h|W|D|C        history        qualifier per payment seq (amount)
    oi|W|D|C       order index    qualifier per O ("1")  [t_order_index]
    w|W            warehouse      ytd
"""

from __future__ import annotations

from tera_spark.catalog import Catalog
from tera_spark.client import Table
from tera_spark.operators.mutation import MutationBatch
from tera_spark.operators.scan import ScanDescriptor

CF = "cf0"


def _k(*parts) -> str:
    out = []
    for p in parts:
        out.append(p if isinstance(p, str) else f"{int(p):06d}")
    return "|".join(out)


class MockTpccDb:
    """Dict-based oracle (the reference's mock_tpccdb.h analog)."""

    def __init__(self):
        self.rows: dict[str, dict[str, str]] = {}

    # -- storage shims ------------------------------------------------
    def _put(self, row: str, qu: str, value) -> None:
        self.rows.setdefault(row, {})[qu] = str(value)

    def _get(self, row: str, qu: str) -> str:
        return self.rows[row][qu]

    def _del(self, row: str, qu: str) -> None:
        self.rows.get(row, {}).pop(qu, None)

    # -- load ---------------------------------------------------------
    def load(self, *, warehouses: int, districts: int, customers: int, items: int):
        for w in range(1, warehouses + 1):
            self._put(_k("w", w), "ytd", 0)
            for i in range(1, items + 1):
                self._put(_k("i", i), "price", 100 + 7 * i)
                self._put(_k("i", i), "name", f"item-{i}")
                self._put(_k("s", w, i), "qty", 50 + (i % 10))
            for d in range(1, districts + 1):
                self._put(_k("d", w, d), "next_o_id", 1)
                self._put(_k("d", w, d), "ytd", 0)
                for c in range(1, customers + 1):
                    row = _k("c", w, d, c)
                    self._put(row, "balance", 0)
                    self._put(row, "ytd_payment", 0)
                    self._put(row, "payment_cnt", 0)
                    self._put(row, "last", f"LAST{c}")

    # -- transactions -------------------------------------------------
    def new_order(self, w, d, c, lines):
        o = int(self._get(_k("d", w, d), "next_o_id"))
        self._put(_k("d", w, d), "next_o_id", o + 1)
        total = 0
        for ln, (i, qty) in enumerate(lines, start=1):
            price = int(self._get(_k("i", i), "price"))
            amount = price * qty
            total += amount
            s = int(self._get(_k("s", w, i), "qty"))
            new_s = s - qty if s >= qty + 10 else s - qty + 91
            self._put(_k("s", w, i), "qty", new_s)
            olr = _k("ol", w, d, o, ln)
            self._put(olr, "i_id", i)
            self._put(olr, "qty", qty)
            self._put(olr, "amount", amount)
        orow = _k("o", w, d, o)
        self._put(orow, "c_id", c)
        self._put(orow, "ol_cnt", len(lines))
        self._put(orow, "carrier", "")
        self._put(orow, "delivered", 0)
        self._put(_k("no", w, d), f"{o:06d}", 1)
        self._put(_k("oi", w, d, c), f"{o:06d}", 1)
        return o, total

    def payment(self, w, d, c, amount):
        self._put(_k("w", w), "ytd", int(self._get(_k("w", w), "ytd")) + amount)
        self._put(_k("d", w, d), "ytd", int(self._get(_k("d", w, d), "ytd")) + amount)
        row = _k("c", w, d, c)
        bal = int(self._get(row, "balance")) - amount
        self._put(row, "balance", bal)
        self._put(row, "ytd_payment", int(self._get(row, "ytd_payment")) + amount)
        cnt = int(self._get(row, "payment_cnt")) + 1
        self._put(row, "payment_cnt", cnt)
        self._put(_k("h", w, d, c), f"{cnt:06d}", amount)
        return bal

    def order_status(self, w, d, c):
        quals = self.rows.get(_k("oi", w, d, c), {})
        if not quals:
            return None, [], int(self._get(_k("c", w, d, c), "balance"))
        o = int(max(quals))
        cnt = int(self._get(_k("o", w, d, o), "ol_cnt"))
        lines = []
        for ln in range(1, cnt + 1):
            olr = _k("ol", w, d, o, ln)
            lines.append(
                (int(self._get(olr, "i_id")), int(self._get(olr, "qty")), int(self._get(olr, "amount")))
            )
        return o, lines, int(self._get(_k("c", w, d, c), "balance"))

    def delivery(self, w, carrier, districts):
        out = []
        for d in range(1, districts + 1):
            pending = self.rows.get(_k("no", w, d), {})
            if not pending:
                continue
            o = int(min(pending))
            self._del(_k("no", w, d), f"{o:06d}")
            orow = _k("o", w, d, o)
            self._put(orow, "carrier", carrier)
            self._put(orow, "delivered", 1)
            c = int(self._get(orow, "c_id"))
            cnt = int(self._get(orow, "ol_cnt"))
            total = sum(int(self._get(_k("ol", w, d, o, ln), "amount")) for ln in range(1, cnt + 1))
            crow = _k("c", w, d, c)
            self._put(crow, "balance", int(self._get(crow, "balance")) + total)
            out.append((d, o))
        return out

    def stock_level(self, w, d, threshold, last_n=5):
        next_o = int(self._get(_k("d", w, d), "next_o_id"))
        items = set()
        for o in range(max(1, next_o - last_n), next_o):
            orow = _k("o", w, d, o)
            if orow not in self.rows:
                continue
            for ln in range(1, int(self._get(orow, "ol_cnt")) + 1):
                items.add(int(self._get(_k("ol", w, d, o, ln), "i_id")))
        return sum(1 for i in items if int(self._get(_k("s", w, i), "qty")) < threshold)

    # -- state dump for the comparison --------------------------------
    def dump(self) -> dict[tuple[str, str], str]:
        return {(r, q): v for r, qs in self.rows.items() for q, v in qs.items()}


class SparkTpccDb:
    """The engine under test: same five transactions over one cell
    table via catalog + client facade (reads = SDK gets and range
    scans; each transaction's writes = ONE MutationBatch commit)."""

    TABLE = "tpcc"

    def __init__(self, catalog: Catalog):
        self.cat = catalog
        if not catalog.is_table_exist(self.TABLE):
            catalog.create_table(f"{self.TABLE} {{ {CF} <maxversions=1> }}")
        self.t = Table(catalog, self.TABLE)

    # -- read helpers (SDK reads: the seek path, no Spark job) ---------
    def _rows(self, prefix: str) -> dict[str, dict[str, str]]:
        out: dict[str, dict[str, str]] = {}
        for r in self.t.scan(ScanDescriptor(start=prefix, end=prefix + "\x7f")):
            # scan order is ts desc per column: the first is the newest
            out.setdefault(r.row_key, {}).setdefault(r.qualifier, bytes(r.value).decode())
        return out

    def _row(self, key: str) -> dict[str, str]:
        return {qu: vs[0][1].decode() for qu, vs in self.t.get(key).get(CF, {}).items()}

    # -- load ---------------------------------------------------------
    def load(self, *, warehouses: int, districts: int, customers: int, items: int):
        b = MutationBatch()

        def put(row, qu, value):
            b.put(row, CF, qu, str(value))

        for w in range(1, warehouses + 1):
            put(_k("w", w), "ytd", 0)
            for i in range(1, items + 1):
                put(_k("i", i), "price", 100 + 7 * i)
                put(_k("i", i), "name", f"item-{i}")
                put(_k("s", w, i), "qty", 50 + (i % 10))
            for d in range(1, districts + 1):
                put(_k("d", w, d), "next_o_id", 1)
                put(_k("d", w, d), "ytd", 0)
                for c in range(1, customers + 1):
                    row = _k("c", w, d, c)
                    put(row, "balance", 0)
                    put(row, "ytd_payment", 0)
                    put(row, "payment_cnt", 0)
                    put(row, "last", f"LAST{c}")
        self.t.apply_mutation(b)

    # -- transactions -------------------------------------------------
    def new_order(self, w, d, c, lines):
        district = self._row(_k("d", w, d))
        items = self._rows("i|")
        stock = self._rows(_k("s", w) + "|")
        o = int(district["next_o_id"])
        b = MutationBatch()
        b.put(_k("d", w, d), CF, "next_o_id", str(o + 1))
        total = 0
        for ln, (i, qty) in enumerate(lines, start=1):
            price = int(items[_k("i", i)]["price"])
            amount = price * qty
            total += amount
            s = int(stock[_k("s", w, i)]["qty"])
            new_s = s - qty if s >= qty + 10 else s - qty + 91
            b.put(_k("s", w, i), CF, "qty", str(new_s))
            olr = _k("ol", w, d, o, ln)
            b.put(olr, CF, "i_id", str(i))
            b.put(olr, CF, "qty", str(qty))
            b.put(olr, CF, "amount", str(amount))
        orow = _k("o", w, d, o)
        b.put(orow, CF, "c_id", str(c))
        b.put(orow, CF, "ol_cnt", str(len(lines)))
        b.put(orow, CF, "carrier", "")
        b.put(orow, CF, "delivered", "0")
        b.put(_k("no", w, d), CF, f"{o:06d}", "1")
        b.put(_k("oi", w, d, c), CF, f"{o:06d}", "1")
        self.t.apply_mutation(b)
        return o, total

    def payment(self, w, d, c, amount):
        wh = self._row(_k("w", w))
        district = self._row(_k("d", w, d))
        cust = self._row(_k("c", w, d, c))
        b = MutationBatch()
        b.put(_k("w", w), CF, "ytd", str(int(wh["ytd"]) + amount))
        b.put(_k("d", w, d), CF, "ytd", str(int(district["ytd"]) + amount))
        bal = int(cust["balance"]) - amount
        row = _k("c", w, d, c)
        b.put(row, CF, "balance", str(bal))
        b.put(row, CF, "ytd_payment", str(int(cust["ytd_payment"]) + amount))
        cnt = int(cust["payment_cnt"]) + 1
        b.put(row, CF, "payment_cnt", str(cnt))
        b.put(_k("h", w, d, c), CF, f"{cnt:06d}", str(amount))
        self.t.apply_mutation(b)
        return bal

    def order_status(self, w, d, c):
        idx = self._row(_k("oi", w, d, c))
        bal = int(self._row(_k("c", w, d, c))["balance"])
        if not idx:
            return None, [], bal
        o = int(max(idx))
        order = self._row(_k("o", w, d, o))
        lines = []
        ols = self._rows(_k("ol", w, d, o) + "|")
        for ln in range(1, int(order["ol_cnt"]) + 1):
            olr = ols[_k("ol", w, d, o, ln)]
            lines.append((int(olr["i_id"]), int(olr["qty"]), int(olr["amount"])))
        return o, lines, bal

    def delivery(self, w, carrier, districts):
        out = []
        b = MutationBatch()
        touched = False
        for d in range(1, districts + 1):
            pending = self._row(_k("no", w, d))
            if not pending:
                continue
            o = int(min(pending))
            b.delete_column(_k("no", w, d), CF, f"{o:06d}")
            orow = _k("o", w, d, o)
            order = self._row(orow)
            b.put(orow, CF, "carrier", str(carrier))
            b.put(orow, CF, "delivered", "1")
            c = int(order["c_id"])
            ols = self._rows(_k("ol", w, d, o) + "|")
            total = sum(
                int(ols[_k("ol", w, d, o, ln)]["amount"])
                for ln in range(1, int(order["ol_cnt"]) + 1)
            )
            crow = _k("c", w, d, c)
            bal = int(self._row(crow)["balance"]) + total
            b.put(crow, CF, "balance", str(bal))
            out.append((d, o))
            touched = True
        if touched:
            self.t.apply_mutation(b)
        return out

    def stock_level(self, w, d, threshold, last_n=5):
        next_o = int(self._row(_k("d", w, d))["next_o_id"])
        orders = self._rows(_k("o", w, d) + "|")
        ols = self._rows(_k("ol", w, d) + "|")
        stock = self._rows(_k("s", w) + "|")
        items = set()
        for o in range(max(1, next_o - last_n), next_o):
            orow = orders.get(_k("o", w, d, o))
            if orow is None:
                continue
            for ln in range(1, int(orow["ol_cnt"]) + 1):
                items.add(int(ols[_k("ol", w, d, o, ln)]["i_id"]))
        return sum(1 for i in items if int(stock[_k("s", w, i)]["qty"]) < threshold)

    # -- state dump ----------------------------------------------------
    def dump(self) -> dict[tuple[str, str], str]:
        v = self.cat.view(self.TABLE)
        return {
            (r.row_key, r.qualifier): bytes(r.value).decode() for r in v.collect()
        }
