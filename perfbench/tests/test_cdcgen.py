"""The CDC generator is deterministic and its oracle sums exactly."""

from __future__ import annotations

import json
from decimal import Decimal

from perfbench import cdcgen
from flink_precisely_demo_spark.schemas import ORDERS_PAYLOAD

KEYS = list(range(200)) + [cdcgen.KEY_DOMAIN + 7, 3 * cdcgen.KEY_DOMAIN + 9]


def _envelopes(seed: int, n: int) -> list[str]:
    return [o.envelope() for o in cdcgen.OrderFeed(seed, KEYS).take(n)]


def test_same_seed_same_feed_other_seed_other_feed():
    assert _envelopes(5, 500) == _envelopes(5, 500)
    assert _envelopes(5, 500) != _envelopes(6, 500)
    # taking in two steps continues the same sequence
    feed = cdcgen.OrderFeed(5, KEYS)
    split = feed.take(200) + feed.take(300)
    assert [o.envelope() for o in split] == _envelopes(5, 500)


def test_envelope_is_reference_shaped():
    env = json.loads(_envelopes(1, 1)[0])
    sv = [k for k in env if k.startswith("sv_")]
    assert len(sv) == 15
    assert set(env["after_image"]) == set(ORDERS_PAYLOAD.fieldNames())
    assert env["sv_op_timestamp"] == env["after_image"]["OrderDate"]


def test_keys_fold_like_fold_key():
    # pmod(key, 2^31): identity below the domain, wrap above it
    assert cdcgen.fold_key(12) == 12
    assert cdcgen.fold_key(cdcgen.KEY_DOMAIN + 7) == 7
    addresses = {o.address_id for o in cdcgen.OrderFeed(3, KEYS).take(5000)}
    folded = {cdcgen.fold_key(k) for k in KEYS}
    assert addresses & folded == folded
    # the ~1% unknown addresses lie above every folded customer key
    assert all(a > max(folded) for a in addresses - folded)


def test_parse_ts_truncates_like_the_pipeline():
    us = 1_700_000_000_123_456
    assert cdcgen.parse_ts(cdcgen.format_ts(us, 9)) == us
    assert cdcgen.parse_ts(cdcgen.format_ts(us, 6)) == us
    assert cdcgen.parse_ts(cdcgen.format_ts(us, 3)) == us - 456
    assert cdcgen.parse_ts(cdcgen.format_ts(us, 0)) == us - 123_456


def test_no_order_is_late_for_the_watermark():
    orders = cdcgen.OrderFeed(9, KEYS).take(5000)
    seen = None
    for o in orders:
        t = cdcgen.parse_ts(o.ts)
        if seen is not None:
            assert t > seen - cdcgen.WATERMARK_US
        seen = t if seen is None else max(seen, t)


def test_oracle_sums_closed_windows_exactly():
    w = cdcgen.WINDOW_US
    t0 = 1_704_067_200_000_000          # 2024-01-01, a window boundary

    def order(i, addr, cents, us):
        return cdcgen.Order(i, addr, cents, cdcgen.format_ts(us, 6))

    orders = [order(1, 1, 10_001, t0 + 5),
              order(2, 2, 20_002, t0 + w - 1),
              order(3, 1, 30_003, t0 + w),        # next window
              order(4, 99, 40_004, t0 + 7),       # no such address
              order(5, 1, 50_005, t0 + 3 * w),
              order(6, 99, 60_006, t0 + 9 * w)]    # never reaches the watermark
    sums = cdcgen.expected_windows(orders, {1: 0, 2: 0}, {0: "N0"})
    assert sums == {(t0, "N0"): Decimal("300.03"),
                    (t0 + w, "N0"): Decimal("300.03"),
                    (t0 + 3 * w, "N0"): Decimal("500.05")}
    wm = cdcgen.final_watermark_us(orders, {1: 0, 2: 0})
    assert wm == t0 + 3 * w - cdcgen.WATERMARK_US
    assert set(cdcgen.closed(sums, wm)) == {(t0, "N0"), (t0 + w, "N0")}
