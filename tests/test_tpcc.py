"""TPC-C transactions vs the mock oracle — the reference's end-to-end
validation strategy (mock_tpccdb.h vs tera_tpccdb.cc) transliterated:
run an identical deterministic transaction script against the cell-
model implementation and the dict-based mock, compare every
transaction's outputs AND the complete final table state."""

from __future__ import annotations

import pytest

from tera_spark.catalog import Catalog
from tera_spark.tpcc import MockTpccDb, SparkTpccDb

SCALE = dict(warehouses=1, districts=2, customers=3, items=8)


def _script(db):
    """Deterministic mixed workload; returns every txn's output."""
    out = []
    out.append(("no1", db.new_order(1, 1, 1, [(1, 5), (3, 2)])))
    out.append(("no2", db.new_order(1, 1, 2, [(2, 60), (4, 1)])))  # forces restock path
    out.append(("no3", db.new_order(1, 2, 3, [(5, 3)])))
    out.append(("pay1", db.payment(1, 1, 1, 250)))
    out.append(("pay2", db.payment(1, 2, 3, 125)))
    out.append(("os1", db.order_status(1, 1, 1)))
    out.append(("os_none", db.order_status(1, 2, 1)))  # customer with no orders
    out.append(("sl_pre", db.stock_level(1, 1, 60)))
    out.append(("dlv1", db.delivery(1, carrier=7, districts=2)))
    out.append(("os_after", db.order_status(1, 1, 1)))  # balance bumped by delivery
    out.append(("no4", db.new_order(1, 1, 1, [(6, 4)])))
    out.append(("dlv2", db.delivery(1, carrier=8, districts=2)))
    out.append(("sl_post", db.stock_level(1, 1, 60)))
    return out


@pytest.mark.slow
def test_tpcc_spark_matches_mock(spark, tmp_path):
    mock = MockTpccDb()
    mock.load(**SCALE)
    expected = _script(mock)

    cat = Catalog(spark, str(tmp_path))
    sdb = SparkTpccDb(cat)
    sdb.load(**SCALE)
    got = _script(sdb)

    for (name_e, val_e), (name_g, val_g) in zip(expected, got):
        assert name_e == name_g
        assert val_g == val_e, f"{name_e}: spark={val_g} mock={val_e}"

    # complete final-state equality, including tombstoned new-order rows
    assert sdb.dump() == mock.dump()
