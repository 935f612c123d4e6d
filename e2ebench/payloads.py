"""Seeded Gmail-JSON payloads for the ingest workload, with the counts
each pipeline call must report.

One sequence is four batches for a fresh warehouse:

- import: `valid` new messages plus `malformed` payloads;
- re-import: half of the import batch again (skip path), as many new
  messages, plus `malformed` payloads;
- sync: `older` new messages dated before the stored watermark and
  `newer` ones dated after it;
- read-back: no payload; status() and latest_emails() must agree with
  the totals above.

Bodies are plain text or HTML built from a benign vocabulary. A known
share carries a phishing phrase, and some messages carry attachments,
one of them with an executable extension.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from email.utils import format_datetime

VOCAB = (
    "meeting budget report quarter team lunch schedule invoice project "
    "update review draft notes design release travel agenda summary "
    "roadmap planning deadline customer contract hiring offsite metrics "
    "launch partner feedback survey"
).split()
PHISHING = (
    "please verify your account details today",
    "your mailbox was suspended, the account needs review",
    "click here to restore access",
)
ATTACHMENTS = (
    ("report.pdf", "application/pdf", b"%PDF-1.4 quarterly"),
    ("chart.png", "image/png", b"\x89PNG\r\n\x1a\nchart"),
    ("notes.txt", "text/plain", b"plain notes"),
    ("setup.exe", "application/pdf", b"MZ\x90\x00payload"),
)
MALFORMED = ("{not valid json", "42", json.dumps({"threadId": "t-orphan"}), "")


@dataclass
class Batch:
    payloads: list[str]
    expected: dict


@dataclass
class Sequence:
    batches: dict[str, Batch]
    total: int  # messages stored after the sync
    suspicious: int  # of those, with a phishing phrase
    offered: int  # payloads over all batches


def _message(rng: random.Random, msg_id: str, when: datetime) -> tuple[str, bool]:
    body = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(12, 60))) + "."
    phishing = rng.random() < 0.1
    if phishing:
        body += " " + rng.choice(PHISHING) + "."
    html = rng.random() < 0.3
    atts = []
    for _ in range(rng.choice((0, 0, 0, 1, 2))):
        name, mime, data = rng.choice(ATTACHMENTS)
        atts.append(
            {
                "filename": name,
                "mimeType": mime,
                "size": len(data),
                "attachmentId": f"{msg_id}-a{len(atts)}",
                "data": base64.b64encode(data).decode(),
            }
        )
    words = body.split()
    m = {
        "id": msg_id,
        "threadId": f"t-{rng.randrange(40)}",
        "labelIds": rng.sample(["INBOX", "IMPORTANT", "WORK", "UNREAD"], 2),
        "snippet": " ".join(words[:8]),
        "headers": [
            {"name": "From", "value": f"User {rng.randrange(200)} <u{rng.randrange(200)}@corp{rng.randrange(5)}.com>"},
            {"name": "To", "value": "team@corp.com, Lead <lead@corp.com>"},
            {"name": "Subject", "value": " ".join(words[:4])},
            {"name": "Date", "value": format_datetime(when)},
        ],
        "body_plain": None if html else body,
        "body_html": f"<html><body><p>{body}</p></body></html>" if html else None,
        "attachments": atts,
    }
    return json.dumps(m), phishing


def make_sequence(rng: random.Random, tag: str, valid: int, malformed: int) -> Sequence:
    """Payloads for one import -> re-import -> sync -> read-back run.
    `tag` keeps message ids unique across the sequences of one run."""
    t0 = datetime(2025, 3, 1, tzinfo=timezone.utc) + timedelta(days=rng.randrange(300))
    window = 30 * 86400

    def fresh(n: int, lo: int, hi: int, prefix: str):
        out = []
        for i in range(n):
            when = t0 + timedelta(seconds=rng.randrange(lo, hi))
            out.append((f"{tag}-{prefix}{i}", *_message(rng, f"{tag}-{prefix}{i}", when)))
        return out

    def bad(n: int) -> list[str]:
        return [rng.choice(MALFORMED) for _ in range(n)]

    first = fresh(valid, 0, window, "a")
    half = valid // 2
    again = rng.sample(first, half)
    second = fresh(half, 0, window, "b")
    # the watermark is max(date) after the re-import, at most t0 + window
    older = fresh(valid // 5, -20 * 86400, -86400, "c")
    newer = fresh(valid // 4, window + 86400, window + 15 * 86400, "d")

    def payloads(msgs, n_bad: int) -> list[str]:
        out = [p for _, p, _ in msgs] + bad(n_bad)
        rng.shuffle(out)
        return out

    stored = first + second + newer
    batches = {
        "import": Batch(
            payloads(first, malformed),
            {"processed": valid, "skipped": 0, "failed": malformed},
        ),
        "reimport": Batch(
            payloads(again + second, malformed),
            {"processed": half, "skipped": half, "failed": malformed},
        ),
        "sync": Batch(payloads(older + newer, 0), {"processed": len(newer)}),
    }
    return Sequence(
        batches=batches,
        total=len(stored),
        suspicious=sum(1 for *_, ph in stored if ph),
        offered=sum(len(b.payloads) for b in batches.values()),
    )
