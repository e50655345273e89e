"""Seeded input generators for the four workloads.

Everything is a pure function of the seed: the same seed gives the same
files, byte for byte. The engine receives only the files; the clean event
and corpus tables returned alongside are for the output checks.
"""
import json
import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "purchase", "click", "signup", "error"]
NODES = ["urn:node:A", "urn:node:B", "urn:node:C", "urn:node:D", "urn:node:E"]
ROBOT_CIDRS = ["66.249.64.0/19", "157.55.39.0/24", "40.77.167.0/24"]
ROBOT_UAS = ["Googlebot/2.1 (+http://www.google.com/bot.html)",
             "Mozilla/5.0 (compatible; bingbot/2.0)",
             "python-requests/2.31 crawler", "Wget/1.21.3"]
HUMAN_UAS = ["Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
             "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) AppleWebKit/605.1.15 Version/17.2 Safari/605.1.15",
             "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
EPOCH_MS = int(EPOCH.timestamp() * 1000)

# Sizes. A run measures a fixed number of seconds, so these set how much
# work one operation is; they are recorded in BENCHMARK.json's `why` lines.
SERVICE_EVENTS = 8000
SERVICE_USERS = 650
SERVICE_DAYS = 14
CORPUS_DOCS = 600
CLIENTS = 2


def _ts(ms):
    return (EPOCH + timedelta(milliseconds=ms)).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _zipf_cum(n, s=1.1):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r ** s
        out.append(acc)
    return out


class EventGen:
    """Read events with Zipf user popularity (a random user is the hot
    key), robot user agents and robot CIDR addresses, search requests,
    redelivered duplicates and malformed lines."""

    def __init__(self, rng, n_users):
        self.rng = rng
        self.next_id = 1_000_000 + rng.randrange(1000)
        users = list(range(n_users))
        rng.shuffle(users)
        self.by_rank = users  # rank 0 is the hot key
        self.cum = _zipf_cum(n_users)
        self.user_ip = {}
        self.rows = []        # clean, distinct events (oracle side)
        self.robot_ids = set()

    def _ip(self, u):
        if u not in self.user_ip:
            r = self.rng
            self.user_ip[u] = (f"{r.randrange(11, 39)}.{r.randrange(256)}."
                               f"{r.randrange(256)}.{r.randrange(1, 255)}")
        return self.user_ip[u]

    def zipf_user(self):
        return self.rng.choices(self.by_rank, cum_weights=self.cum)[0]

    def event(self, user, ms):
        r = self.rng
        eid = self.next_id
        self.next_id += 1 + r.randrange(3)
        ua = HUMAN_UAS[user % len(HUMAN_UAS)]
        ip = self._ip(user)
        kind = r.random()
        if kind < 0.04:
            ua = r.choice(ROBOT_UAS)
        elif kind < 0.06:
            base = r.choice(ROBOT_CIDRS).split("/")[0].split(".")
            ip = f"{base[0]}.{base[1]}.{base[2]}.{r.randrange(1, 255)}"
        if kind < 0.06:
            self.robot_ids.add(eid)
        request = (f"/cn/v2/query/solr/?q=id:{user}" if r.random() < 0.2
                   else f"/cn/v2/object/urn:uuid:{user}")
        row = {"event_id": eid, "ts": _ts(ms), "user_id": user,
               "event_type": r.choice(EVENT_TYPES),
               "value": round(r.random() * 100, 2),
               "props": '{"k": %d}' % r.randrange(100),
               "ip": ip, "ua": ua, "request": request}
        self.rows.append((eid, ms, user, row["event_type"], row["value"], row["props"]))
        return json.dumps(row)

    def malformed(self, i):
        r = self.rng
        return r.choice([
            '{"event_id": %d, "ts": "2024-01-0' % (10 ** 9 + i),
            'GET /cn/v2/object/%d HTTP/1.1 %d' % (i, r.randrange(1000)),
            '{"event_id": %d,, "user_id": }' % (10 ** 9 + i),
        ])

    def deliver(self, lines, dup_share=0.02, malformed_share=0.005):
        """At-least-once delivery: redeliver a share of lines later in the
        stream and corrupt a few more. Returns (lines, n_malformed)."""
        r = self.rng
        out = list(lines)
        for _ in range(int(len(lines) * dup_share)):
            out.insert(r.randrange(len(out) + 1), r.choice(lines))
        n_bad = max(1, int(len(lines) * malformed_share))
        for i in range(n_bad):
            out.insert(r.randrange(len(out) + 1), self.malformed(r.randrange(10 ** 6) * 10 + i))
        return out, n_bad

    def table(self):
        eid, ms, user, et, val, props = zip(*self.rows) if self.rows else ([],) * 6
        return pa.table({
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array([EPOCH_MS + t for t in ms], pa.int64()).cast(pa.timestamp("ms")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(et, pa.string()),
            "value": pa.array(val, pa.float64()),
            "props": pa.array(props, pa.string())})


def _write_parts(d, lines, parts):
    os.makedirs(d, exist_ok=True)
    step = (len(lines) + parts - 1) // parts
    for p in range(parts):
        with open(os.path.join(d, f"part-{p:04d}.jsonl"), "w") as fh:
            fh.write("\n".join(lines[p * step:(p + 1) * step]) + "\n")


def service_events(rng, out_dir, n_events=SERVICE_EVENTS, days=SERVICE_DAYS):
    """Raw JSONL for the service build. Every user id 0..n_users-1
    appears at least once, so identifier families are dense chains."""
    n_users = SERVICE_USERS
    g = EventGen(rng, n_users)
    span_ms = days * 86_400_000
    pairs = [(u, rng.randrange(span_ms)) for u in range(n_users)]
    pairs += [(g.zipf_user(), rng.randrange(span_ms)) for _ in range(n_events - n_users)]
    pairs.sort(key=lambda p: p[1])
    lines = [g.event(u, ms) for u, ms in pairs]
    raw, n_bad = g.deliver(lines)
    _write_parts(out_dir, raw, 4)
    return {"events_dir": out_dir, "raw_lines": len(raw), "malformed": n_bad,
            "distinct_events": len(lines), "robot_events": len(g.robot_ids),
            "table": g.table(), "users": n_users}


# ---- API request mix ---------------------------------------------------------

def _day(ms):
    return (EPOCH + timedelta(milliseconds=ms)).strftime("%Y-%m-%d")


def _mdy(ms):
    d = EPOCH + timedelta(milliseconds=ms)
    return f"{d.month:02d}/{d.day:02d}/{d.year}"


def request(kind, rng, pick, days):
    """One request of the reference's shapes. `pick(k)` draws k distinct
    skewed ids. Counts and the width of date ranges are fixed, so a shape
    asks for the same amount of work on every seed."""
    span = days * 86_400_000
    a = rng.randrange(span // 2)
    b = a + span * 3 // 8
    rng_filter = {"filterType": "time", "values": [_day(a), _day(b)], "interpretAs": "range"}
    if kind == "landing":
        body = {"metrics": ["views", "downloads"],
                "filterBy": [{"filterType": "user", "values": pick(20), "interpretAs": "list"},
                             rng_filter], "groupBy": ["day"]}
        return {"kind": kind, "json": json.dumps(body), "columnar": ["views", "downloads"]}
    if kind == "dataset":
        body = {"metrics": ["views", "downloads"],
                "filterBy": [{"filterType": "dataset", "values": pick(2), "interpretAs": "list"},
                             rng_filter], "groupBy": ["month"]}
    elif kind == "repository":
        body = {"metrics": ["views", "downloads"],
                "filterBy": [{"filterType": "repository", "values": [rng.choice(NODES)],
                              "interpretAs": "list"}, rng_filter], "groupBy": ["day"]}
    elif kind == "portal":
        body = {"metrics": ["views", "downloads", "clicks"],
                "filterBy": [{"filterType": "portal", "values": [f"portal-{int(pick(1)[0]) % 7}"],
                              "interpretAs": "list"},
                             {"filterType": "query", "interpretAs": "query", "values": [
                                 '-event_type:err* AND (event_type:view OR '
                                 'event_type:click OR event_type:"purchase")']}],
                "groupBy": ["month"]}
    elif kind == "user_charts":
        body = {"metrics": ["views", "downloads"],
                "filterBy": [{"filterType": "user", "values": pick(6), "interpretAs": "list"},
                             {"filterType": "month", "values": [_mdy(a), _mdy(b)],
                              "interpretAs": "range"}],
                "groupBy": ["months", "country"]}
    elif kind == "catalog":
        body = {"metrics": ["views", "downloads"],
                "filterBy": [{"filterType": "catalog", "values": pick(5), "interpretAs": "list"}],
                "groupBy": []}
    elif kind == "filters":
        return {"kind": kind}
    else:
        raise ValueError(kind)
    return {"kind": kind, "json": json.dumps(body)}


# landing page, dataset family, repository profile, portal + collection
# query, user charts by country, catalog summary, filters catalog. The repo
# holds no record of request frequencies, so the mix is unweighted: one
# request of each shape per block.
SHAPES = ["landing", "dataset", "repository", "portal", "user_charts", "catalog", "filters"]
# Assumed, not measured: ids come from a pool of ID_POOL users with Zipf
# skew ID_SKEW, so dataset and portal lookups repeat.
ID_POOL = 40
ID_SKEW = 1.2


def request_streams(rng, n_users, days, blocks=2, clients=CLIENTS):
    """One cycle of `blocks` blocks, each holding every shape once in the
    order of SHAPES, and per client the same cycle rotated by one block per
    client. A client walks its stream round and round, so every seed serves
    the same shapes in the same order and repeated requests occur. The
    clients send the same shape at the same time, with other ids: a closed
    loop over shapes of unequal cost drifts into that phase anyway, so
    starting there leaves no drift inside the measured window.
    Returns the streams and the warm-up length per client: the number of
    requests after which the clients together have answered the whole cycle."""
    assert clients <= blocks
    pool = rng.sample(range(n_users), ID_POOL)
    cum = _zipf_cum(ID_POOL, ID_SKEW)

    def pick(k):
        ids = set()
        while len(ids) < k:
            ids.add(rng.choices(pool, cum_weights=cum)[0])
        return [str(i) for i in sorted(ids)]

    cycle = []
    for _ in range(blocks):
        for kind in SHAPES:
            req = request(kind, rng, pick, days)
            req["key"] = req.get("json", "filters")
            cycle.append(req)
    step = len(SHAPES)
    streams = [cycle[c * step:] + cycle[:c * step] for c in range(clients)]
    return streams, len(cycle) - (clients - 1) * step


# ---- corpus ------------------------------------------------------------------

def corpus(rng, path, n_docs=CORPUS_DOCS):
    """Documents over a Zipf vocabulary with planted duplicates: 3% exact
    copies, 3% near copies with two substituted tokens, 19% fresh documents
    carrying a copied span of 25-60 tokens, the rest fresh. Every planted
    duplicate copies a distinct plain fresh document, so near-duplicate
    components are pairs. The counts and the length multiset are fixed and
    only placement follows the seed, so every seed asks for the same work."""
    vocab = [f"w{i}" for i in range(3000)]
    cum = _zipf_cum(len(vocab), 1.0)
    n_copy = n_near = n_docs * 3 // 100
    n_span = n_docs * 19 // 100
    n_fresh = n_docs - n_copy - n_near - n_span
    # sources come first so each planted document finds an unused one
    planted = ["copy"] * n_copy + ["near"] * n_near + ["span"] * n_span
    rng.shuffle(planted)
    kinds = ["fresh"] * n_fresh + planted
    lengths = [40 + (i * 100) // n_docs for i in range(n_docs)]  # 40..139
    rng.shuffle(lengths)
    sources = list(range(n_fresh))
    rng.shuffle(sources)
    docs, exact_pairs = [], []
    for d, kind in enumerate(kinds):
        if kind == "fresh":
            toks = rng.choices(vocab, cum_weights=cum, k=lengths[d])
        else:
            src = sources.pop()
            if kind == "copy":
                toks = list(docs[src])
                exact_pairs.append((src, d))
            elif kind == "near":
                toks = list(docs[src])
                for _ in range(2):
                    toks[rng.randrange(len(toks))] = rng.choice(vocab)
            else:
                toks = rng.choices(vocab, cum_weights=cum, k=lengths[d])
                n = rng.randrange(25, 61)
                at = rng.randrange(len(docs[src]) - 24)
                pos = rng.randrange(len(toks) + 1)
                toks[pos:pos] = docs[src][at:at + n]
        docs.append(toks)
    order = list(range(n_docs))
    rng.shuffle(order)  # the engine sees the documents in seeded order
    ids = [10 * d + rng.randrange(10) for d in range(n_docs)]
    table = pa.table({"doc_id": pa.array([ids[d] for d in order], pa.int64()),
                      "text": pa.array([" ".join(docs[d]) for d in order], pa.string())})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"corpus": path, "corpus_tokens": sum(len(t) for t in docs),
            "exact_pairs": [(ids[a], ids[b]) for a, b in exact_pairs], "docs": n_docs}
