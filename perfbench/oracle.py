"""Output checks: DuckDB replays of the engine's answers over the same
generated inputs. Each check returns a list of failure strings (empty when
the output is right). None of this runs inside a timed region.
"""
import json

import duckdb

TYPES = {"views": "view", "downloads": "purchase", "clicks": "click",
         "signups": "signup", "errors": "error"}
NODES = "['urn:node:A','urn:node:B','urn:node:C','urn:node:D','urn:node:E']"
COUNTRIES = "['US','DE','FR','BR','JP','IN','GB','CA','AU','NL']"
UNITS = {"day": ("%Y-%m-%d", "1 DAY"), "month": ("%Y-%m", "1 MONTH"),
         "year": ("%Y", "1 YEAR")}


def _iso(v):
    if "/" in v:
        m, d, y = v.split("/")
        return f"{int(y):04d}-{int(m):02d}-{int(d):02d}"
    return v


def _ids(values):
    return ", ".join(str(int(v)) for v in values)


def request_sql(req):
    """The oracle formulation of one MetricsRequest, written against the
    formulas the identifier dimensions are generated from: family = id mod
    50 (dense ids), portal = id mod 7, node/country = fixed lists by id."""
    if req["kind"] == "filters":
        return f"""WITH u AS (SELECT DISTINCT user_id FROM events)
            SELECT DISTINCT 'eventType' AS filter_type, event_type AS value FROM events
            UNION ALL SELECT DISTINCT 'repository', ({NODES})[(user_id % 5 + 1)::INT] FROM u
            UNION ALL SELECT DISTINCT 'country', ({COUNTRIES})[(user_id % 10 + 1)::INT] FROM u
            UNION ALL SELECT DISTINCT 'portal', 'portal-' || (user_id % 7) FROM u"""
    body = json.loads(req["json"])
    metrics = body["metrics"]
    where, rng, catalog = ["TRUE"], None, None
    for f in body["filterBy"]:
        t, vals = f["filterType"], f["values"]
        if t == "user":
            where.append(f"user_id IN ({_ids(vals)})")
        elif t == "dataset":
            where.append(f"user_id % 50 IN ({_ids(int(v) % 50 for v in vals)})")
        elif t == "repository":
            nodes = ", ".join(f"'{v}'" for v in vals if v != "urn:node:CN")
            if nodes:
                where.append(f"({NODES})[(user_id % 5 + 1)::INT] IN ({nodes})")
        elif t == "portal":
            where.append(f"user_id % 7 IN ({_ids(int(v.removeprefix('portal-')) % 7 for v in vals)})")
        elif t == "query":
            # the one collection query the generator emits
            assert vals[0].startswith("-event_type:err* AND ("), vals[0]
            where.append("NOT starts_with(event_type, 'err') AND "
                         "event_type IN ('view', 'click', 'purchase')")
        elif f["interpretAs"] == "range":
            a, b = _iso(vals[0]), _iso(vals[1])
            rng = (a, b)
            where.append(f"ts >= DATE '{a}' AND ts < DATE '{b}' + INTERVAL 1 DAY")
        elif t in ("catalog", "package"):
            catalog = vals
        else:
            raise ValueError(t)
    cond = " AND ".join(where)
    if catalog is not None:
        cols = ", ".join(
            f"count(DISTINCT CASE WHEN event_type = '{TYPES[m]}' THEN event_id END)::BIGINT AS {m}"
            for m in metrics)
        return (f"SELECT user_id AS entity, {cols} FROM events "
                f"WHERE {cond} AND user_id IN ({_ids(catalog)}) GROUP BY 1")
    groups = body["groupBy"]
    unit = next((g.rstrip("s") for g in groups if g.rstrip("s") in UNITS), "month")
    fmt, step = UNITS[unit]
    dims = [g for g in groups if g.rstrip("s") not in UNITS]
    dim_sql = {"country": f"({COUNTRIES})[(user_id % 10 + 1)::INT] AS country",
               "eventType": "event_type", "user": "user_id"}
    sel = [f"strftime(ts, '{fmt}') AS period"] + [dim_sql[d] for d in dims]
    sums = ", ".join(f"sum(CASE WHEN event_type = '{TYPES[m]}' THEN 1 ELSE 0 END)::BIGINT AS {m}"
                     for m in metrics)
    agg = (f"SELECT {', '.join(sel)}, {sums} FROM events WHERE {cond} "
           f"GROUP BY {', '.join(str(i + 1) for i in range(len(sel)))}")
    if rng is None or dims:
        return agg
    fill = ", ".join(f"coalesce({m}, 0)::BIGINT AS {m}" for m in metrics)
    return f"""WITH agg AS ({agg}),
        spine AS (SELECT strftime(d, '{fmt}') AS period FROM (SELECT unnest(generate_series(
            date_trunc('{unit}', DATE '{rng[0]}'), DATE '{rng[1]}'::TIMESTAMP,
            INTERVAL {step})) AS d))
        SELECT spine.period, {fill} FROM spine LEFT JOIN agg USING (period)"""


def _columnar(rows, metrics):
    rows = sorted(rows, key=lambda r: r["period"])
    out = {"periods": [r["period"] for r in rows]}
    for m in metrics:
        out[m] = [r[m] for r in rows]
    for m in metrics:
        out[f"total_{m}"] = sum(r[m] for r in rows)
    return [out]


def _canon(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def check_responses(con, responses, requests):
    """Compare every recorded API response with its DuckDB replay."""
    failures = []
    for key, got_json in responses.items():
        req = requests[key]
        cur = con.execute(request_sql(req))
        names = [d[0] for d in cur.description]
        want = [dict(zip(names, r)) for r in cur.fetchall()]
        if req.get("columnar"):
            want = _columnar(want, req["columnar"])
        got = [json.loads(r) for r in got_json]
        if _canon(got) != _canon(want):
            failures.append(f"response mismatch for {req['kind']} request {key[:120]}: "
                            f"got {len(got)} rows, want {len(want)}")
    return failures


def events_db(table):
    con = duckdb.connect()
    con.register("events_arrow", table)
    con.execute("CREATE TABLE events AS SELECT * REPLACE (ts::TIMESTAMP AS ts) FROM events_arrow")
    return con


def check_coverage(corpus_path, coverage_dir, min_len=25):
    """ExactSubstr coverage against the independent every-offset md5-gram
    formulation (the DedupQueries oracle)."""
    g = min_len - 1
    con = duckdb.connect()
    want = con.execute(f"""WITH corpus AS (SELECT doc_id, text FROM read_parquet('{corpus_path}')),
        d AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
        t AS (SELECT doc_id, length(w)::BIGINT AS n_tokens, w FROM d),
        occ AS (SELECT doc_id, i::BIGINT AS pos, md5(array_to_string(w[i:i+{g}], ' ')) AS h
                FROM t, unnest(generate_series(1, greatest(length(w) - {g}, 0))) AS u(i)),
        dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
        spans AS (SELECT doc_id, pos, greatest(0, pos + {min_len} - greatest(coalesce(
            max(pos + {min_len}) OVER (PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), pos)) AS adds
            FROM occ JOIN dup USING (h)),
        pd AS (SELECT doc_id, count(*) AS n_dup_starts, sum(adds) AS covered
               FROM spans GROUP BY doc_id)
        SELECT t.doc_id, t.n_tokens, coalesce(pd.n_dup_starts, 0)::BIGINT,
               coalesce(pd.covered, 0)::BIGINT,
               (coalesce(pd.covered, 0) * 1000000 // t.n_tokens)::BIGINT, false
        FROM t LEFT JOIN pd USING (doc_id) ORDER BY 1""").fetchall()
    got = con.execute(f"""SELECT doc_id, n_tokens, n_dup_starts, covered_tokens,
        dup_frac_micro, quarantined FROM read_parquet('{coverage_dir}/*.parquet')
        ORDER BY 1""").fetchall()
    if got != want:
        bad = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
        return [f"exact-substring coverage differs from the md5-gram oracle on {bad} docs"]
    planted = sum(1 for r in want if r[3] > 0)
    return [] if planted else ["no duplicated span found in a corpus with planted spans"]


def check_trim(coverage_dir, trim_dir):
    """Trim removes exactly the covered tokens of every document."""
    con = duckdb.connect()
    bad = con.execute(f"""SELECT count(*) FROM read_parquet('{coverage_dir}/*.parquet') c
        FULL JOIN read_parquet('{trim_dir}/*.parquet') t USING (doc_id)
        WHERE t.n_removed IS DISTINCT FROM c.covered_tokens
           OR len(string_split(trim(t.trimmed_text), ' ')) * (t.n_tokens > t.n_removed)::INT
              <> t.n_tokens - t.n_removed""").fetchone()[0]
    return [f"trim disagrees with coverage on {bad} docs"] if bad else []


def check_components(components_dir, exact_pairs):
    """Planted exact copies land in one near-duplicate component."""
    con = duckdb.connect()
    comp = dict(con.execute(
        f"SELECT node, component FROM read_parquet('{components_dir}/*.parquet')").fetchall())
    split = [(a, b) for a, b in exact_pairs if comp.get(a) is None or comp.get(a) != comp.get(b)]
    return [f"{len(split)} planted exact copies not in one component"] if split else []
