"""Seeded CDC order-envelope generator and its exact oracle.

Pure Python: nothing here touches Spark. The generator emits
reference-shaped ``cdc-orders`` JSON envelopes (15 ``sv_*`` fields plus
an ``after_image`` payload, FIXTURES.md §A.3) whose ``ShipToAddressId``
is a customer key folded into the envelope's INT domain exactly as
``sources.cdc_json.fold_key`` folds it (``pmod(key, KEY_DOMAIN)``).

Event time advances ``EVENT_SECONDS_PER_ORDER`` per order and each order
is pulled back by up to ``MAX_DISORDER_S``, which is below the
pipeline's 10-minute watermark, so no row is ever late. The
``sv_op_timestamp`` string carries 0, 3, 6 or 9 fractional digits; the
oracle parses the string back the way ``functions.datetime_fns.parse_ts``
does (first six fractional digits, right-padded), so the event time it
sums by is the one the pipeline sees.

The oracle (:func:`expected_windows`) sums ``TotalDue`` per 10-minute
tumbling window and state name as exact decimals, over the orders whose
address joins to a customer (the pipeline's enrichment is an inner
join).
"""

from __future__ import annotations

import datetime as dt
import random
from decimal import Decimal

from flink_precisely_demo_spark.sources.cdc_json import KEY_DOMAIN

WINDOW_US = 10 * 60 * 1_000_000
WATERMARK_US = 10 * 60 * 1_000_000
EVENT_SECONDS_PER_ORDER = 1.5
MAX_DISORDER_S = 240
# share of orders whose address is not a customer (dropped by the join)
UNKNOWN_ADDRESS_FRAC = 0.01

_EPOCH = dt.datetime(1970, 1, 1)

_ENVELOPE = (
    '{{"sv_manip_type":"I","sv_trans_id":{oid},"sv_trans_row_seq":1,'
    '"sv_sending_table":"SALES.ORDERS","sv_trans_timestamp":"{ts}",'
    '"sv_trans_username":"cdcuser","sv_program_name":"demo",'
    '"sv_job_name":"job","sv_job_user":"juser","sv_job_number":"1",'
    '"sv_op_timestamp":"{ts}","sv_file_member":"m",'
    '"sv_receiver_library":"lib","sv_receiver_name":"recv",'
    '"sv_journal_seqno":"{oid}","after_image":{{"SalesOrderId":{oid},'
    '"OrderDate":"{ts}","DueDate":"{ts}","ShipDate":"{ts}","Status":5,'
    '"ShipToAddressId":{addr},"SubTotal":{sub},"TaxAmt":{tax},'
    '"Freight":{frt},"TotalDue":{due}}}}}')


def fold_key(key: int) -> int:
    """Python twin of ``sources.cdc_json.fold_key`` for int keys."""
    return key % KEY_DOMAIN


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def format_ts(us: int, frac_digits: int) -> str:
    """Epoch microseconds -> ``yyyyMMddHHmmss`` + ``frac_digits``
    fractional digits (nanosecond digits past the sixth are zeros)."""
    secs, frac = divmod(us, 1_000_000)
    body = (_EPOCH + dt.timedelta(seconds=secs)).strftime("%Y%m%d%H%M%S")
    return body + f"{frac:06d}000"[:frac_digits]


def parse_ts(s: str) -> int:
    """Epoch microseconds the way ``parse_ts`` reads a CDC timestamp:
    the 14-digit prefix plus the first six fractional digits,
    right-padded with zeros."""
    base = dt.datetime.strptime(s[:14], "%Y%m%d%H%M%S")
    frac = int((s[14:20] + "000000")[:6])
    return int((base - _EPOCH).total_seconds()) * 1_000_000 + frac


class Order:
    __slots__ = ("order_id", "address_id", "cents", "ts")

    def __init__(self, order_id: int, address_id: int, cents: int,
                 ts: str):
        self.order_id = order_id
        self.address_id = address_id
        self.cents = cents
        self.ts = ts

    def envelope(self) -> str:
        tax = self.cents * 8 // 100
        frt = self.cents * 25 // 1000
        return _ENVELOPE.format(
            oid=self.order_id, ts=self.ts, addr=self.address_id,
            sub=_money(self.cents - tax - frt), tax=_money(tax),
            frt=_money(frt), due=_money(self.cents))


class OrderFeed:
    """Deterministic order stream: the same ``seed`` and customer keys
    give the same orders in the same sequence."""

    def __init__(self, seed: int, customer_keys: list[int]):
        self._rng = random.Random(seed)
        self._keys = [fold_key(k) for k in customer_keys]
        self._unknown_base = max(self._keys) + 1
        # seeded start inside 2024, on a whole second
        self._t0_us = (int((dt.datetime(2024, 1, 1) - _EPOCH)
                           .total_seconds())
                       + self._rng.randrange(0, 300 * 86_400)) * 1_000_000
        self._next = 0

    def take(self, n: int) -> list[Order]:
        rng = self._rng
        out = []
        for _ in range(n):
            i = self._next
            self._next += 1
            base = self._t0_us + int(i * EVENT_SECONDS_PER_ORDER * 1e6)
            us = base - rng.randrange(0, MAX_DISORDER_S * 1_000_000)
            if rng.random() < UNKNOWN_ADDRESS_FRAC:
                addr = self._unknown_base + rng.randrange(1000)
            else:
                addr = self._keys[rng.randrange(len(self._keys))]
            out.append(Order(i + 1, addr, rng.randrange(1_000, 5_000_000),
                             format_ts(us, rng.choice((0, 3, 6, 9)))))
        return out


def expected_windows(orders, nation_of_address: dict[int, int],
                     state_name: dict[int, str]
                     ) -> dict[tuple[int, str], Decimal]:
    """(window start in epoch microseconds, state name) -> exact
    ``SUM(TotalDue)`` over the orders that join to an address."""
    sums: dict[tuple[int, str], Decimal] = {}
    for o in orders:
        nation = nation_of_address.get(o.address_id)
        if nation is None:
            continue
        us = parse_ts(o.ts)
        key = (us - us % WINDOW_US, state_name[nation])
        sums[key] = sums.get(key, Decimal(0)) + Decimal(o.cents) / 100
    return sums


def final_watermark_us(orders, nation_of_address: dict[int, int]) -> int:
    """The event-time watermark after every order has been seen, at
    Spark's millisecond precision: max event time minus the delay. Only
    orders that pass the enrichment join reach the watermark operator."""
    max_ms = max(parse_ts(o.ts) for o in orders
                 if o.address_id in nation_of_address) // 1000
    return max_ms * 1000 - WATERMARK_US


def closed(sums: dict[tuple[int, str], Decimal], watermark_us: int
           ) -> dict[tuple[int, str], Decimal]:
    """The windows an append-mode sink has emitted once the watermark
    reaches ``watermark_us``: those that end at or before it."""
    return {k: v for k, v in sums.items()
            if k[0] + WINDOW_US <= watermark_us}
