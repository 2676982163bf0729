"""Seeded raw syslog input for the relay and fanout workloads.

``syslog_corpus`` writes raw syslog lines into a directory the run
owns. The seed varies the RFC3164/RFC5424 share, severity skew, host
and program cardinality and message length, each within a narrow band
so that different seeds load the engine about equally. The generator
also returns what a correct run must produce: the order-insensitive
checksum of the ``RSYSLOG_TraditionalFileFormat`` rendering and the
row count each fanout filter selects.

Plain Python, no Spark, so generation cost does not depend on the
engine under test.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

MONTHS = ("Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec").split()
WORDS = ("connection accepted closed from port user session opened "
         "failed password for invalid timeout reset peer bytes sent "
         "received request response status ok error warning disk "
         "queue full retry backend upstream cache miss hit").split()
#: facilities drawn for the corpus (kern, user, mail, daemon, auth,
#: local0..local3)
FACILITIES = (0, 1, 2, 3, 4, 16, 17, 18, 19)

#: the fanout config's program-name filter selects this prefix
FANOUT_PROG_PREFIX = "db"
#: the fanout config's prifilt selects severity <= this (warning)
FANOUT_MAX_SEV = 4


def line_hash(line: str) -> int:
    """64-bit hash of one output line (without its newline)."""
    return int.from_bytes(
        hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")


@dataclass
class Corpus:
    """A generated corpus and what a correct run must produce from it."""
    path: str
    n_lines: int
    #: (count, sum of line_hash mod 2**64) of the traditional rendering
    traditional: tuple[int, int]
    #: rows each fanout action must receive
    fanout_counts: dict[str, int] = field(default_factory=dict)
    #: the seed-drawn corpus shape, reported with the run
    shape: dict = field(default_factory=dict)


def corpus_shape(seed: int) -> dict:
    """The seed's draw of the properties the parser and templates
    depend on; narrow bands keep per-seed cost comparable."""
    rng = random.Random(seed)
    return {
        "rfc5424_share": round(0.25 + 0.10 * rng.random(), 4),
        "severity_skew": round(0.8 + 0.4 * rng.random(), 4),
        "hosts": rng.randint(200, 400),
        "programs": rng.randint(20, 40),
        "msg_words": rng.randint(8, 11),
    }


#: relative frequency of severities 0..7 before the seed's skew
#: exponent is applied: mostly info/notice, as real logs are
SEVERITY_BASE = (1, 1, 2, 4, 8, 16, 40, 20)
#: share of lines whose program belongs to the family the fanout
#: property filter selects (``FANOUT_PROG_PREFIX``)
FANOUT_PROG_SHARE = 0.3


def syslog_corpus(dest: str, n: int, seed: int, files: int = 8) -> Corpus:
    """Write ``n`` raw syslog lines into ``files`` text files under
    ``dest`` and return the expected outputs."""
    shape = corpus_shape(seed)
    rng = random.Random(seed * 7919 + n)
    sev_w = [w ** shape["severity_skew"] for w in SEVERITY_BASE]
    sevs = rng.choices(range(8), weights=sev_w, k=n)
    hosts = [f"host{i:03d}" for i in range(shape["hosts"])]
    half = shape["programs"] // 2
    picked = [f"{FANOUT_PROG_PREFIX}d{i}" for i in range(half)]
    others = [f"svc{i}" for i in range(shape["programs"] - half)]
    # a pool of instants: both renderings of each, built once
    pool = []
    for _ in range(4096):
        ts = datetime(2024, 8, 1) + timedelta(
            seconds=rng.randrange(27 * 86400))
        pool.append((f"{MONTHS[ts.month - 1]} {ts.day:2d} {ts:%H:%M:%S}",
                     f"{ts:%Y-%m-%dT%H:%M:%S}Z"))
    share = shape["rfc5424_share"]
    lo, hi = shape["msg_words"] // 2, shape["msg_words"] * 3 // 2
    rnd, choice, choices, randint = (rng.random, rng.choice, rng.choices,
                                     rng.randint)

    os.makedirs(dest, exist_ok=True)
    outs = [open(os.path.join(dest, f"part-{i:02d}.log"), "w")
            for i in range(files)]
    total = 0
    n_warn = n_prog = 0
    try:
        for i in range(n):
            sev = sevs[i]
            pri = FACILITIES[int(rnd() * len(FACILITIES))] * 8 + sev
            stamp, iso = pool[int(rnd() * 4096)]
            host = hosts[int(rnd() * len(hosts))]
            in_family = rnd() < FANOUT_PROG_SHARE
            prog = choice(picked if in_family else others)
            pid = int(rnd() * 32767) + 1
            msg = " ".join(choices(WORDS, k=randint(lo, hi))) + f" seq={i}"
            # the engine renders an RFC5424 syslogtag as APP[PROCID]
            # without the colon, and sp-if-no-1st-sp adds the space
            if rnd() < share:
                raw = f"<{pri}>1 {iso} {host} {prog} {pid} - - {msg}"
                want = f"{stamp} {host} {prog}[{pid}] {msg}"
            else:
                raw = f"<{pri}>{stamp} {host} {prog}[{pid}]: {msg}"
                want = f"{stamp} {host} {prog}[{pid}]: {msg}"
            outs[i % files].write(raw + "\n")
            total += line_hash(want)
            n_warn += sev <= FANOUT_MAX_SEV
            n_prog += in_family
    finally:
        for f in outs:
            f.close()
    return Corpus(path=dest, n_lines=n,
                  traditional=(n, total & 0xFFFFFFFFFFFFFFFF),
                  fanout_counts={"act_warn": n_warn, "act_prog": n_prog,
                                 "act_all": n},
                  shape=shape)


def output_checksum(path: str) -> tuple[int, int]:
    """(line count, sum of line_hash mod 2**64) over every data file
    Spark wrote under ``path`` (order-insensitive)."""
    count = total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for line in f:
                    count += 1
                    total = (total + line_hash(line.rstrip("\n"))) \
                        & 0xFFFFFFFFFFFFFFFF
    return count, total
