import datetime as dt
import json
from decimal import Decimal

from pinned import load, signature
from workloads import VECTOR_ARROW


def test_signature_ignores_row_and_column_order():
    a = signature(["b", "a"], [(1.5, "x"), (None, "y")])
    b = signature(["a", "b"], [("y", None), ("x", 1.5)])
    assert a == b
    assert a["columns"] == ["a", "b"] and a["rows"] == 2
    assert a["types"] == [["str"], ["float"]]


def test_signature_sees_values_and_types():
    base = signature(["v"], [(Decimal("1.50"),)])
    assert signature(["v"], [(Decimal("1.51"),)])["sha256"] != base["sha256"]
    assert signature(["v"], [(1.5,)])["types"] != base["types"]
    assert signature(["d"], [(dt.datetime(2025, 1, 2),)])["types"] == [["datetime"]]


def test_every_query_is_pinned():
    pins = load()
    assert sorted(pins) == sorted(VECTOR_ARROW)
    for sig in pins.values():
        assert sig["rows"] > 0 and len(sig["sha256"]) == 64
        json.dumps(sig)
