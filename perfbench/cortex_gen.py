"""Seeded generator of Cortex-export-shaped CSV uploads for the cortex-etl
workload, with the outcome of the reference product computed independently.

Every edge case of the `endpoints` fixture (FIXTURES.md section 2) appears at
scale: duplicate keys inside and across uploads, NULL aliases and names,
padded and mixed-case status, garbage and NULL timestamps, multi-value IPv4 and
IPv6 cells, values with no address, and failure keywords in either upgrade
column.

The expected result follows from how the rows are built, not from running the
pipeline: every key that has more than one row gets exactly one row whose
`Last Seen` is valid and strictly later than every other row of that key, so
keep-latest has one right answer. That row's `Endpoint ID` is summed into
`base_limpa.id_sum`, so the check fails if any other row is kept.
"""

import csv
import os
import random
import re
import time

HEADER = [
    "Endpoint ID", "Endpoint Name", "Endpoint Alias", "Endpoint Type",
    "Operating System", "Agent Version", "Endpoint Status", "Last Seen",
    "Last Upgrade Status Time", "Last Upgrade Status",
    "Last Upgrade Failure Reason", "IP Address", "IPv6 Address",
]

OS = ["Windows 10", "windows 10", "Windows Server 2019", "Ubuntu 22.04",
      "macOS 14", "MACOS 14", "CentOS 7", None]
STATUS = ["connected", " connected ", "CONNECTED", "disconnected",
          "DISCONNECTED", " Disconnected", "lost", "connection lost", None]
UPGRADE = ["Success", "SUCCESS", "Failed", "failed", "Timed Out",
           "In Progress", "Faulty package", None]
REASON = [None, None, "error code 5", "Lost connection", "disk full", "n/a"]
GARBAGE_TS = ["not a date", "2024-13-45 99:99:99", "yesterday", "--"]
FAILURE = re.compile("fail|timed out|faulty|lost|error")
IPV4 = re.compile(r"\b(\d{1,3}(?:\.\d{1,3}){3})\b")
EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC
NULL = "\\N"


def _ip(rng):
    r = rng.random()
    a = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    if r < 0.55:
        return a
    if r < 0.8:
        return f"{a}, 192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
    if r < 0.9:
        return "n/a"
    return None


def _ipv6(rng):
    r = rng.random()
    if r < 0.5:
        return f"fe80::{rng.randrange(1, 65535):x}"
    if r < 0.7:
        return f"fe80::{rng.randrange(1, 65535):x}, fe80::{rng.randrange(1, 65535):x}"
    if r < 0.85:
        return f"1.2.{rng.randrange(256)}.{rng.randrange(256)}"  # no ':' -> NULL
    return None


def _ts(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(EPOCH + sec))


def _initcap(s):
    # Spark's initcap(trim(s)): lower-case, then upper-case the first letter
    # after each space; trim removes spaces only.
    out, up = [], True
    for ch in s.strip(" ").lower():
        out.append(ch.upper() if up else ch)
        up = ch == " "
    return "".join(out)


def _first_ipv6(s):
    if s is None:
        return None
    hits = [p.strip() for p in s.split(",") if ":" in p.strip()]
    return hits[0] if hits else None


def generate(out_dir, seed, uploads=4, rows_per_upload=50000):
    """Writes `uploads` CSV files and `expected.tsv` into `out_dir` and
    returns the CSV paths."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = uploads * rows_per_upload
    files = [[] for _ in range(uploads)]
    winners = []
    serial = 0
    key_id = 0
    while serial < total:
        key_id += 1
        if key_id <= 4:
            # the NULL-name keys, one per alias value (NULL alias included)
            name, alias = None, (None if key_id == 1 else f"alias-{key_id - 2}")
        else:
            name = f"host-{key_id:07d}"
            alias = None if rng.random() < 0.3 else f"alias-{rng.randrange(3)}"
        m = min(rng.choices([1, 2, 3], weights=[5, 3, 2])[0], total - serial)
        latest = rng.randrange(10_000, 20_000_000)
        rows = []
        for i in range(m):
            serial += 1
            if i == 0:
                # the row keep-latest must keep
                seen = _ts(latest) if m > 1 or rng.random() < 0.9 else rng.choice(GARBAGE_TS + [None])
            else:
                r = rng.random()
                if r < 0.7:
                    seen = _ts(latest - rng.randrange(1, 10_000))
                elif r < 0.85:
                    seen = rng.choice(GARBAGE_TS)
                else:
                    seen = None
            up_time = None if rng.random() < 0.25 else _ts(rng.randrange(0, 20_000_000))
            rows.append([
                str(serial), name, alias, rng.choice(["Server", "Workstation", "Laptop"]),
                rng.choice(OS), f"8.{rng.randrange(10)}.{rng.randrange(100)}",
                rng.choice(STATUS), seen, up_time, rng.choice(UPGRADE),
                rng.choice(REASON), _ip(rng), _ipv6(rng),
            ])
        winners.append(rows[0])
        for row in rows:
            files[rng.randrange(uploads)].append(row)
    kept = winners  # every key is drawn once, so each has one winner
    paths = []
    for i, rows in enumerate(files):
        rng.shuffle(rows)
        p = os.path.join(out_dir, f"upload_{i}.csv")
        with open(p, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            for r in rows:
                w.writerow(["" if v is None else v for v in r])
        paths.append(p)
    exp = {"input.rows": total, "base_limpa.rows": len(kept),
           "base_limpa.ipv4": sum(1 for w in kept if w[11] and IPV4.search(w[11])),
           "base_limpa.ipv6": sum(1 for w in kept if _first_ipv6(w[12])),
           "base_limpa.last_seen": sum(1 for w in kept if w[7] and w[7] not in GARBAGE_TS),
           "base_limpa.id_sum": sum(int(w[0]) for w in kept),
           "falhas_upgrade.rows": sum(1 for w in kept if any(
               v and FAILURE.search(v.lower()) for v in (w[9], w[10])))}
    for table, idx, norm in (("resumo_status", 6, _initcap), ("resumo_os", 4, lambda s: s)):
        for w in kept:
            k = f"{table}.{NULL if w[idx] is None else norm(w[idx])}"
            exp[k] = exp.get(k, 0) + 1
    with open(os.path.join(out_dir, "expected.tsv"), "w", encoding="utf-8") as f:
        for k in sorted(exp):
            f.write(f"{k}\t{exp[k]}\n")
    return paths
