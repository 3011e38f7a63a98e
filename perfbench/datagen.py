"""Salesforce ``Case`` records for the ``sf_etl`` workload, generated
from the run seed. The tables the other ops read are the program's
sf0.1 fixture, committed under ``fixture/``."""

from __future__ import annotations

import datetime as dt
import json

import numpy as np

#: Case fields the generated records carry, in ``CASE_FIELDS`` order
CASE_FIELD_NAMES = (
    "Id", "AccountId", "CaseNumber", "Priority", "Tags",
    "Amount", "IsEscalated", "NumCalls", "CreatedDate", "Payload", "SeqNo",
)
_TAGS = ["green", "red;blue", "blue", "red;green;blue", "amber"]


def make_cases(n: int, seed: int) -> list[dict]:
    """``n`` Salesforce Case records as wire strings, deterministic in
    ``seed``: the mock org's ``CASE_FIELDS`` plus ``SeqNo``, a unique
    numeric watermark for incremental (streaming) extracts."""
    rng = np.random.default_rng(seed)
    acct = rng.integers(0, 5000, n)
    prio = rng.choice(["Low", "Medium", "High"], n)
    tags = rng.choice(_TAGS, n)
    cents = rng.integers(0, 10_000_000, n)
    esc = rng.random(n) < 0.2
    calls = rng.integers(0, 40, n)
    secs = rng.integers(0, 365 * 86400, n)
    base = dt.datetime(2024, 1, 1)
    return [
        {
            "Id": f"500{i:015d}",
            "AccountId": f"001{int(acct[i]):015d}",
            "CaseNumber": f"CASE-{i:08d}",
            "Priority": str(prio[i]),
            "Tags": str(tags[i]),
            "Amount": f"{int(cents[i]) // 100}.{int(cents[i]) % 100:02d}",
            "IsEscalated": "true" if esc[i] else "false",
            "NumCalls": str(int(calls[i])),
            "CreatedDate": (base + dt.timedelta(seconds=int(secs[i]))).strftime("%Y-%m-%dT%H:%M:%S.000Z"),
            "Payload": json.dumps({"k": int(acct[i]) % 97, "seed": seed}),
            "SeqNo": str(i),
        }
        for i in range(n)
    ]
