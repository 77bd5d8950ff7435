"""Seeded, stdlib-only transaction event generator for the benchmark.

Events are JSON lines in the reference wire format (the Faker producer's
fields, FIXTURES.md §1 value domains), with event time uniform over
``days`` days from ``start`` (730 days x 6 categories of aggregate keys
by default), so events arrive out of event-time order.

A ``dup_share`` of lines are exact re-deliveries (identical bytes) of a
recent earlier line.  The same seed and arguments give identical bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import random

PRODUCTS = ["product1", "product2", "product3", "product4", "product5", "product6"]
PRODUCT_NAMES = ["laptop", "mobile", "tablet", "watch", "headphone", "speaker"]
CATEGORIES = ["electronic", "fashion", "grocery", "home", "beauty", "sports"]
BRANDS = ["apple", "samsung", "oneplus", "mi", "boat", "sony"]
CURRENCIES = ["USD", "GBP"]
PAYMENT_METHODS = ["credit_card", "debit_card", "online_transfer"]
N_CUSTOMERS = 5000
RECENT = 1000  # re-deliveries copy one of the last RECENT distinct lines
DUP_SHARE = 0.02

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def iso_ms(epoch_ms: int) -> str:
    """Epoch milliseconds -> ISO-8601 UTC with milliseconds."""
    t = EPOCH + dt.timedelta(milliseconds=epoch_ms)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{epoch_ms % 1000:03d}Z"


class EventStream:
    """Deterministic event lines; one instance per run and seed."""

    def __init__(self, seed: int, dup_share: float = DUP_SHARE):
        self.rng = random.Random(seed)
        self.dup_share = dup_share
        self.recent: list[str] = []
        self.n_new = 0
        self.n_dup = 0

    def _event(self, event_ms: int) -> str:
        r = self.rng
        p = r.randrange(len(PRODUCTS))
        price = r.randrange(1000, 100000) / 100.0
        qty = r.randint(1, 10)
        ev = {
            "transactionId": "%032x" % r.getrandbits(128),
            "productId": PRODUCTS[p],
            "productName": PRODUCT_NAMES[p],
            "productCategory": r.choice(CATEGORIES),
            "productPrice": price,
            "productQuantity": qty,
            "productBrand": r.choice(BRANDS),
            "totalAmount": round(price * qty, 2),
            "currency": r.choice(CURRENCIES),
            "customerId": f"user_{r.randrange(N_CUSTOMERS)}",
            "transactionDate": iso_ms(event_ms),
            "paymentMethod": r.choice(PAYMENT_METHODS),
        }
        return json.dumps(ev, separators=(",", ":"))

    def _emit(self, event_ms: int) -> str:
        if self.recent and self.rng.random() < self.dup_share:
            self.n_dup += 1
            return self.rng.choice(self.recent)
        line = self._event(event_ms)
        self.n_new += 1
        self.recent.append(line)
        if len(self.recent) > RECENT:
            del self.recent[0]
        return line

    def backlog_lines(self, n: int, start_ms: int, days: int) -> list[str]:
        span = days * 86_400_000
        return [self._emit(start_ms + self.rng.randrange(span)) for _ in range(n)]


def backlog_start_ms() -> int:
    return int((dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc) - EPOCH).total_seconds() * 1000)


def write_file(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
