"""Seeded input generator with its own ground truth.

Everything here is plain Python and never imports the engine: the
expected counts and reports are derived from what the
generator chose to write, not from running the engine's regexes, so a
mismatch between the engine and this module is a real disagreement.

Line kinds follow the rules in ``takuan_bench.yml``:

- ssh:  auth-failure, user-enumeration, rule miss, parser miss, and
        user-enumeration lines with an unparseable datetime (quarantine);
- http: php_files_scan (also when the user agent is a script, which
        checks first-match-wins), not_a_browser, rule miss, parser miss,
        and php scans with an unparseable datetime (quarantine).

Attacker addresses are Zipf-skewed over a fixed pool, so a few
addresses carry most events and a long tail carries one or two.
"""

from __future__ import annotations

import itertools
import random
from collections import Counter
from dataclasses import dataclass, field

COUNTRIES = (
    ("US", "United States"), ("CN", "China"), ("RU", "Russia"),
    ("DE", "Germany"), ("BR", "Brazil"), ("IN", "India"), ("FR", "France"),
    ("NL", "Netherlands"), ("VN", "Vietnam"), ("KR", "South Korea"),
    ("GB", "United Kingdom"), ("JP", "Japan"), ("ID", "Indonesia"),
    ("UA", "Ukraine"), ("SG", "Singapore"), ("IT", "Italy"),
)
USERS = ("admin", "root", "oracle", "test", "ubuntu", "git", "postgres",
         "guest", "pi", "deploy", "ftpuser", "support")
BROWSERS = (
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/128.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) Safari/605.1.15",
)
SCRIPTS = ("python-requests/2.31", "curl/8.1.2", "wget/1.21.4",
           "Go-http-client python/3.1")
PAGES = ("/", "/index.html", "/about", "/static/app.js", "/img/logo.png",
         "/api/v1/items", "/login")
PHP = ("/wp-login.php", "/xmlrpc.php", "/admin/config.php",
       "/phpmyadmin/index.php?db=1", "/vendor/phpunit/eval-stdin.php")

#: share of addresses the geo dimension knows; the rest enrich to NULL.
GEO_COVERAGE = 0.85
YEAR = 2026


@dataclass
class LogTruth:
    """What the engine must produce from a log corpus."""

    lines: int = 0
    parser_miss: int = 0
    rule_miss: int = 0
    quarantine: int = 0
    #: (address, sensor, rule) -> events
    counts: Counter = field(default_factory=Counter)

    @property
    def events(self) -> int:
        return sum(self.counts.values())

    def add(self, other: "LogTruth") -> None:
        self.lines += other.lines
        self.parser_miss += other.parser_miss
        self.rule_miss += other.rule_miss
        self.quarantine += other.quarantine
        self.counts.update(other.counts)


@dataclass
class LogCorpus:
    #: sensor name -> list of chunks, each a list of lines
    chunks: dict[str, list[list[str]]]
    truth: LogTruth
    #: per sensor, per chunk ground truth (live_tail needs it per chunk)
    chunk_truth: dict[str, list[LogTruth]]
    geo: dict[str, tuple[str, str]]


def addresses(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct public-looking IPv4 addresses."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        a = f"{rng.randint(11, 223)}.{rng.randint(0, 255)}." \
            f"{rng.randint(0, 255)}.{rng.randint(1, 254)}"
        if a not in seen:
            seen.add(a)
            out.append(a)
    return out


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    """Cumulative Zipf weights over ranks 1..n (for ``random.choices``)."""
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def geo_dim(rng: random.Random, pool: list[str]) -> dict[str, tuple[str, str]]:
    """ip -> (country_code, country_name) for GEO_COVERAGE of the pool."""
    return {
        ip: COUNTRIES[rng.randrange(len(COUNTRIES))]
        for ip in pool
        if rng.random() < GEO_COVERAGE
    }


def _ssh_stamp(rng: random.Random) -> str:
    # a backlog spans a week of dates; days 1-9 exercise Go's padded _2
    t = rng.randrange(86400)
    return (f"Aug {rng.randint(3, 9):>2} "
            f"{t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}")


def _http_stamp(rng: random.Random) -> str:
    t = rng.randrange(86400)
    return (f"{rng.randint(3, 9):02d}/Aug/{YEAR}:"
            f"{t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d} +0000")


def ssh_line(rng: random.Random, addr: str, truth: LogTruth) -> str:
    truth.lines += 1
    host = f"node{rng.randint(1, 9)}"
    pid = rng.randint(100, 65000)
    port = rng.randint(1024, 65535)
    user = USERS[rng.randrange(len(USERS))]
    r = rng.random()
    if r < 0.33:
        truth.counts[(addr, "ssh", "auth-failure")] += 1
        # "invalid user" (lower case) must NOT reach the case-sensitive
        # user-enumeration rule; auth-failure wins either way.
        msg = f"Authentication failed for invalid user {user} from"
    elif r < 0.63:
        truth.counts[(addr, "ssh", "user-enumeration")] += 1
        msg = f"Invalid user {user} from"
    elif r < 0.83:
        truth.rule_miss += 1
        msg = f"Accepted publickey for {user} from"
    elif r < 0.95:
        truth.parser_miss += 1
        return f"{_ssh_stamp(rng)} {host} sshd[{pid}]: Connection closed by {addr}"
    else:
        truth.quarantine += 1
        return (f"Foo 99 99:99:99 {host} sshd[{pid}]: Illegal user {user} "
                f"from {addr} port {port}")
    return f"{_ssh_stamp(rng)} {host} sshd[{pid}]: {msg} {addr} port {port}"


def http_line(rng: random.Random, addr: str, truth: LogTruth) -> str:
    truth.lines += 1
    size = rng.randint(0, 90000)
    r = rng.random()
    stamp = _http_stamp(rng)
    if r < 0.30:
        truth.counts[(addr, "http", "php_files_scan")] += 1
        req = f"GET {PHP[rng.randrange(len(PHP))]} HTTP/1.1"
        # half the scans come from scripts: php_files_scan still wins
        ua = (SCRIPTS if rng.random() < 0.5 else BROWSERS)[rng.randrange(3)]
        code = 404
    elif r < 0.60:
        truth.counts[(addr, "http", "not_a_browser")] += 1
        req = f"GET {PAGES[rng.randrange(len(PAGES))]} HTTP/1.1"
        ua = SCRIPTS[rng.randrange(len(SCRIPTS))]
        code = 200
    elif r < 0.85:
        truth.rule_miss += 1
        req = f"GET {PAGES[rng.randrange(len(PAGES))]} HTTP/1.1"
        ua = BROWSERS[rng.randrange(len(BROWSERS))]
        code = 200
    elif r < 0.95:
        truth.parser_miss += 1
        return f'{addr} - - [{stamp}] "GET / HTTP/1.1" 400 0'
    else:
        truth.quarantine += 1
        stamp = f"13/Foo/{YEAR}:99:99:99 +0000"
        req = f"GET {PHP[0]} HTTP/1.1"
        ua = BROWSERS[0]
        code = 404
    return f'{addr} - - [{stamp}] "{req}" {code} {size} "-" "{ua}"'


def log_corpus(
    seed: int,
    *,
    chunks_per_sensor: int,
    chunk_lines: int,
    n_addresses: int,
) -> LogCorpus:
    """ssh + http chunk corpus with Zipf-skewed attackers."""
    rng = random.Random(seed)
    pool = addresses(rng, n_addresses)
    geo = geo_dim(rng, pool)
    cum = zipf_weights(n_addresses)
    truth = LogTruth()
    chunks: dict[str, list[list[str]]] = {}
    chunk_truth: dict[str, list[LogTruth]] = {}
    for sensor, make in (("ssh", ssh_line), ("http", http_line)):
        chunks[sensor] = []
        chunk_truth[sensor] = []
        for _ in range(chunks_per_sensor):
            ct = LogTruth()
            addrs = rng.choices(pool, cum_weights=cum, k=chunk_lines)
            chunks[sensor].append([make(rng, a, ct) for a in addrs])
            chunk_truth[sensor].append(ct)
            truth.add(ct)
    return LogCorpus(chunks=chunks, truth=truth, chunk_truth=chunk_truth, geo=geo)


def expected_report(
    counts: Counter, geo: dict[str, tuple[str, str]]
) -> list[tuple]:
    """The per-address report: (address, country_code, country_name,
    total_events, counters), counters being sorted
    ``sensor/rule:count`` segments joined by '|', ordered by total desc
    then address."""
    per_addr: dict[str, list[str]] = {}
    totals: Counter = Counter()
    for (addr, sensor, rule), n in counts.items():
        per_addr.setdefault(addr, []).append(f"{sensor}/{rule}:{n}")
        totals[addr] += n
    rows = []
    for addr, segs in per_addr.items():
        cc, cn = geo.get(addr, (None, None))
        rows.append((addr, cc, cn, totals[addr], "|".join(sorted(segs))))
    rows.sort(key=lambda r: (-r[3], r[0]))
    return rows


def expected_topk(
    counts: Counter, geo: dict[str, tuple[str, str]], k: int = 5
) -> list[tuple[str | None, int]]:
    """Per-country event counts, top k by count desc, code asc with the
    unknown country (NULL) first among ties."""
    per_cc: Counter = Counter()
    for (addr, _, _), n in counts.items():
        per_cc[geo.get(addr, (None, None))[0]] += n
    ranked = sorted(per_cc.items(), key=lambda kv: (-kv[1], kv[0] is not None,
                                                    kv[0] or ""))
    return ranked[:k]


def flag(code: str | None) -> str:
    if not code:
        return "\U0001F3F3"
    return "".join(chr(0x1F1E6 + ord(c) - ord("A")) for c in code)


def expected_summary(topk: list[tuple[str | None, int]], total: int) -> str:
    """The per-batch status line the report hook prints."""
    parts = [f"{n} from {flag(cc)} {cc or 'unknown'}" for cc, n in topk]
    plural = "s" if total != 1 else ""
    return f"{total} event{plural}: " + ", ".join(parts) + ("..." if parts else "")


def parse_counters(counters: str) -> Counter:
    """Inverse of the counters encoding: ``sensor/rule:n|...`` ->
    Counter keyed by (sensor, rule)."""
    out: Counter = Counter()
    for seg in filter(None, counters.split("|")):
        key, n = seg.rsplit(":", 1)
        sensor, rule = key.split("/", 1)
        out[(sensor, rule)] += int(n)
    return out


# ------------------------------------------------------------ events table

EVENT_RULES = (("ssh", "auth-failure"), ("ssh", "user-enumeration"),
               ("http", "php_files_scan"), ("http", "not_a_browser"))


@dataclass
class EventHistory:
    """Stored events for report_refresh, cut into per-epoch slices."""

    #: per epoch: rows of (created_at_iso, address, cc, cn, sensor, rule)
    epochs: list[list[tuple]]
    counts: Counter
    geo: dict[str, tuple[str, str]]


def event_history(
    seed: int, *, n_events: int, n_addresses: int, n_epochs: int
) -> EventHistory:
    """Already-parsed attack events over many distinct, heavily skewed
    addresses, spread over ``n_epochs`` micro-batches and a week of
    event dates."""
    rng = random.Random(seed)
    pool = addresses(rng, n_addresses)
    geo = geo_dim(rng, pool)
    cum = zipf_weights(n_addresses, s=1.2)
    counts: Counter = Counter()
    per_epoch = -(-n_events // n_epochs)
    epochs = []
    for e in range(n_epochs):
        rows = []
        k = min(per_epoch, n_events - e * per_epoch)
        for addr in rng.choices(pool, cum_weights=cum, k=k):
            sensor, rule = EVENT_RULES[rng.randrange(len(EVENT_RULES))]
            cc, cn = geo.get(addr, (None, None))
            ts = (f"{YEAR}-08-{rng.randint(10, 16):02d} "
                  f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00")
            rows.append((ts, addr, cc, cn, sensor, rule))
            counts[(addr, sensor, rule)] += 1
        epochs.append(rows)
    return EventHistory(epochs=epochs, counts=counts, geo=geo)
