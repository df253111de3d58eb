"""Correctness checks, run after the timed windows, against DuckDB oracles.

* api_dashboard: the first two requests of every kind in the seeded
  stream are replayed as oracle SQL of the same shape as the engine's
  ApiQueries oracles, and compared row for row. A kind with no checked
  request is a failed check.
* counter_batch: the final state after the last landed day: the published
  session table against a DuckDB sessionization of every landed event, the
  SUSHI report documents against a replay of the ReportQueries flat-metrics
  CTE, and the gold table against a direct aggregate.
* corpus_pipeline: every stage of the last pass against an oracle chain:
  exact-dedup groups, MinHash-LSH pairs (same md5 hash family), components
  (union-find over the pairs), decontamination (8-gram overlap with the
  benchmark set), and the mixture gate plus packing windows.

`run` returns {"wrong": number of failed checks, "details": {...}}.
"""
import glob
import gzip
import json
import os
import urllib.parse

import duckdb

NODES = ["urn:node:A", "urn:node:B", "urn:node:C", "urn:node:D", "urn:node:E"]
COUNTRIES = ["US", "DE", "FR", "BR", "JP", "IN", "GB", "CA", "AU", "NL"]
NODE_SQL = "[" + ", ".join(f"'{n}'" for n in NODES) + "]"
COUNTRY_SQL = "[" + ", ".join(f"'{c}'" for c in COUNTRIES) + "]"
# every request kind of the mix; each must be checked in every run
KINDS = ["dataset", "user", "repository", "portal", "catalog", "filters"]
TYPES = {"views": "view", "downloads": "purchase", "clicks": "click",
         "signups": "signup", "errors": "error"}
# the portal collection queries the request mix uses, as SQL predicates
QUERY_SQL = {
    "event_type:view OR event_type:click":
        "event_type IN ('view', 'click')",
    '-event_type:err* AND (event_type:view OR event_type:"purchase")':
        "NOT coalesce(starts_with(event_type, 'err'), FALSE) "
        "AND (event_type = 'view' OR event_type = 'purchase')",
    'event_type:view OR event_type:click AND props:{"k":\\ 1*':
        "(event_type = 'view' OR (event_type = 'click' "
        "AND starts_with(props, '{\"k\": 1')))",
}


def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def same_rows(a, b):
    return sorted(map(repr, (tuple(norm(x) for x in r) for r in a))) == \
        sorted(map(repr, (tuple(norm(x) for x in r) for r in b)))


def connect():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def run(workload, data, res):
    con = connect()
    try:
        details = {"api_dashboard": check_api, "counter_batch": check_counter,
                   "corpus_pipeline": check_corpus}[workload](con, data, res["checks"])
    except Exception as e:  # a crashed check is a failed check
        details = {"error": f"{type(e).__name__}: {e}"}
    wrong = sum(1 for v in details.values() if v != "ok")
    return {"wrong": wrong, "details": details}


# --- api_dashboard -------------------------------------------------------

def iso(v):
    if "/" in v:
        m, d, y = v.split("/")
        return f"{y}-{int(m):02d}-{int(d):02d}"
    return v


def api_sql(req, users):
    where, catalog = [], None
    for f in req["filterBy"]:
        t, vals, how = f["filterType"], f["values"], f["interpretAs"]
        if t in ("catalog", "package"):
            catalog = [int(v) for v in vals]
        elif t == "dataset":
            fam = sorted({int(v) % 50 for v in vals if int(v) in users})
            where.append(f"user_id % 50 IN ({', '.join(map(str, fam)) or 'NULL'})")
        elif t in ("user", "group"):
            where.append(f"user_id IN ({', '.join(vals)})")
        elif t == "repository":
            nodes = [v for v in vals if v != "urn:node:CN"]
            if nodes:
                where.append(f"{NODE_SQL}[(user_id % 5 + 1)::INT] IN "
                             f"({', '.join(repr(n) for n in nodes)})")
        elif how == "range":
            a, b = iso(vals[0]), iso(vals[1])
            where.append(f"ts >= TIMESTAMP '{a}' AND "
                         f"ts < TIMESTAMP '{b}' + INTERVAL 1 DAY")
        elif t == "portal":
            ps = [int(v.removeprefix("portal-")) % 7 for v in vals]
            where.append(f"user_id % 7 IN ({', '.join(map(str, ps))})")
        elif t == "query":
            where.append(QUERY_SQL[vals[0]])
        else:
            raise ValueError(f"no oracle for filter {t}/{how}")
    cond = " AND ".join(where) or "TRUE"
    metrics = req["metrics"]
    if catalog is not None:
        aggs = ", ".join(
            f"count(DISTINCT CASE WHEN event_type = '{TYPES[m]}' "
            f"THEN event_id END) AS {m}" for m in metrics)
        return (f"SELECT user_id AS entity, {aggs} FROM events WHERE {cond} "
                f"AND user_id IN ({', '.join(map(str, catalog))}) GROUP BY 1")
    units = [g.removesuffix("s") for g in req["groupBy"]]
    unit = next((u for u in units if u in ("month", "day", "year")), "month")
    fmt = {"month": "%Y-%m", "day": "%Y-%m-%d", "year": "%Y"}[unit]
    dims = [{"eventType": "event_type", "user": "user_id",
             "country": f"{COUNTRY_SQL}[(user_id % 10 + 1)::INT] AS country"}[g]
            for g in req["groupBy"] if g.removesuffix("s") not in ("month", "day", "year")]
    sums = ", ".join(f"sum(CASE WHEN event_type = '{TYPES[m]}' THEN 1 ELSE 0 END) AS {m}"
                     for m in metrics)
    cols = ", ".join([f"strftime(date_trunc('{unit}', ts), '{fmt}') AS period"] + dims)
    agg = (f"SELECT {cols}, {sums} FROM events WHERE {cond} "
           f"GROUP BY ALL")
    rng = next((f for f in req["filterBy"] if f["interpretAs"] == "range"
                and f["filterType"] in ("time", "month", "day", "year")), None)
    if rng is None or dims:
        return agg
    a, b = iso(rng["values"][0]), iso(rng["values"][1])
    filled = ", ".join(f"coalesce({m}, 0) AS {m}" for m in metrics)
    return (f"WITH agg AS ({agg}), spine AS (SELECT strftime(unnest(generate_series("
            f"date_trunc('{unit}', DATE '{a}'), DATE '{b}', INTERVAL 1 {unit})), "
            f"'{fmt}') AS period) "
            f"SELECT s.period, {filled} FROM spine s LEFT JOIN agg USING (period)")


FILTERS_SQL = f"""
WITH u AS (SELECT DISTINCT user_id FROM events)
SELECT 'eventType' AS filter_type, event_type AS value
FROM (SELECT DISTINCT event_type FROM events)
UNION ALL SELECT DISTINCT 'repository', {NODE_SQL}[(user_id % 5 + 1)::INT] FROM u
UNION ALL SELECT DISTINCT 'country', {COUNTRY_SQL}[(user_id % 10 + 1)::INT] FROM u
UNION ALL SELECT DISTINCT 'portal', 'portal-' || (user_id % 7) FROM u"""


def columnar(long_rows, metrics):
    rows = sorted(long_rows)
    out = [[r[0] for r in rows]]
    out += [[r[1 + k] for r in rows] for k in range(len(metrics))]
    out += [sum(r[1 + k] for r in rows) for k in range(len(metrics))]
    return [out], ["periods"] + metrics + [f"total_{m}" for m in metrics]


def check_api(con, data, checks):
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{data}/events.parquet')")
    users = {r[0] for r in con.execute("SELECT DISTINCT user_id FROM events").fetchall()}
    checked = {c["kind"] for c in checks["requests"]}
    out = {f"kind_{k}": "ok" if k in checked else "no request checked"
           for k in KINDS}
    for c in checks["requests"]:
        key = f"request_{c['index']}_{c['kind']}"
        if c["request"] is None:
            sql, metrics = FILTERS_SQL, None
        else:
            req = json.loads(c["request"])
            sql, metrics = api_sql(req, users), req["metrics"]
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [list(r) for r in cur.fetchall()]
        if c["columnar"]:
            rows, cols = columnar(rows, metrics)
        if cols != c["columns"]:
            out[key] = f"columns {c['columns']} != oracle {cols}"
        elif not same_rows(c["rows"], rows):
            out[key] = f"rows differ ({len(c['rows'])} vs oracle {len(rows)})"
        else:
            out[key] = "ok"
    return out


# --- counter_batch -------------------------------------------------------

FLAT_CTE = f"""
g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))
              <= 3600000000 THEN 0 ELSE 1 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ts, event_id, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
), flat AS (
  SELECT {NODE_SQL}[(user_id % 5 + 1)::INT] AS node_id,
         strftime(date_trunc('month', ts), '%Y-%m') AS period,
         {COUNTRY_SQL}[(user_id % 10 + 1)::INT] AS country,
         CAST(count(DISTINCT user_id || '#' || session_seq) AS BIGINT) AS unique_investigations,
         count(*) AS total_investigations,
         CAST(count(DISTINCT CASE WHEN event_type IN ('purchase', 'click')
                             THEN user_id || '#' || session_seq END) AS BIGINT) AS unique_requests,
         CAST(sum(CASE WHEN event_type IN ('purchase', 'click')
                  THEN 1 ELSE 0 END) AS BIGINT) AS total_requests
  FROM s GROUP BY 1, 2, 3
)"""


def sushi_sql(created):
    return f"""WITH {FLAT_CTE}
SELECT to_json(struct_pack(
    report_header := struct_pack(report_id := 'DSR', created := '{created}',
                                 created_by := node_id, reporting_period := period),
    total_investigations := sum(total_investigations)::BIGINT,
    total_requests := sum(total_requests)::BIGINT,
    performance := list(struct_pack(
      country := country,
      unique_investigations := unique_investigations,
      investigations := total_investigations,
      unique_requests := unique_requests,
      requests := total_requests) ORDER BY country)))::VARCHAR
FROM flat GROUP BY node_id, period"""


def read_lines(d):
    lines = []
    for f in sorted(glob.glob(f"{d}/part-*")):
        opener = gzip.open if f.endswith(".gz") else open
        with opener(f, "rt") as fh:
            lines += [l.rstrip("\n") for l in fh if l.strip()]
    return lines


def check_counter(con, data, c):
    srcs = [f"{data}/base/events.parquet"] + [
        f"{data}/landing/d{d}/events.parquet" for d in range(60, c["last_day"] + 1)]
    con.execute("CREATE TABLE events AS SELECT * FROM read_parquet(["
                + ", ".join(f"'{s}'" for s in srcs) + "])")
    out = {}
    bad = con.execute(f"""WITH {FLAT_CTE}
      SELECT count(*) FROM s FULL JOIN
        (SELECT event_id, session_seq FROM read_parquet('{c["sessions"]}/*.parquet')) p
        USING (event_id)
      WHERE s.session_seq IS DISTINCT FROM p.session_seq""").fetchone()[0]
    out["sessions"] = "ok" if bad == 0 else f"{bad} events with a wrong session"

    want = [r[0] for r in con.execute(sushi_sql(c["created"])).fetchall()]
    got = read_lines(c["reports"])
    out["reports"] = "ok" if sorted(want) == sorted(got) else \
        f"{len(got)} report documents vs oracle {len(want)}, contents differ"

    parts = sorted(glob.glob(f"{c['gold']}/node_id=*"))
    got = []
    for p in parts:
        node = urllib.parse.unquote(os.path.basename(p).split("=", 1)[1])
        got += [(node,) + tuple(r) for r in con.execute(
            f"SELECT period, event_type, n_events, n_unique "
            f"FROM read_parquet('{p}/*.parquet')").fetchall()]
    want = con.execute(f"""
      SELECT {NODE_SQL}[(user_id % 5 + 1)::INT], strftime(date_trunc('month', ts), '%Y-%m'),
             event_type, count(*), count(DISTINCT event_id)
      FROM events GROUP BY 1, 2, 3""").fetchall()
    out["gold"] = "ok" if same_rows(got, want) else \
        f"{len(got)} gold rows vs oracle {len(want)}, contents differ"
    return out


# --- corpus_pipeline -----------------------------------------------------

MINHASH_A = [911382323, 972663749, 568811519, 104729347,
             865469261, 351683269, 742617101, 423176543]
MINHASH_B = [113108923, 669388277, 831718357, 974740309,
             217987103, 446714857, 590262449, 67867967]


def gram_sql(n):
    return " || ' ' || ".join(f"w[i+{k}]" for k in range(n))


def check_corpus(con, data, c):
    con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{data}/documents.parquet')")
    con.execute(f"CREATE TABLE bench AS SELECT * FROM read_parquet('{data}/benchmark.parquet')")
    out = {}

    keep = con.execute("""SELECT md5(text), count(*), min(doc_id)
                          FROM documents GROUP BY 1""").fetchall()
    out["exact_dedup"] = "ok" if same_rows(c["keep"], keep) else "groups differ"
    con.execute("""CREATE TABLE dd AS SELECT * FROM documents
                   WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))""")

    # MinHash over distinct word 3-gram shingles: one md5-derived 30-bit
    # base hash per shingle, eight (a*h + b) mod p permutations, four bands
    # of two; candidates share a band and are kept at Jaccard >= 0.5
    perms = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))
    pairs = con.execute(f"""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM dd),
      s AS (SELECT DISTINCT doc_id, x FROM (
              SELECT doc_id, unnest(list_transform(generate_series(1, length(w) - 2),
                                                   i -> {gram_sql(3)})) AS x
              FROM d WHERE length(w) >= 3)),
      n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
      h AS (SELECT doc_id, ('0x' || substring(md5(x), 1, 15))::BIGINT & 1073741823 AS h FROM s),
      p AS (SELECT * FROM (VALUES {perms}) t(j, a, b)),
      m AS (SELECT doc_id, j, min((a * h + b) % 1073741789) AS v FROM h, p GROUP BY 1, 2),
      bk AS (SELECT doc_id, j // 2 AS band, list(v ORDER BY j) AS key FROM m GROUP BY 1, 2),
      cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j FROM bk a JOIN bk b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      shared AS (SELECT i, j, count(*) AS k FROM cand
                 JOIN s sa ON sa.doc_id = i JOIN s sb ON sb.doc_id = j AND sa.x = sb.x
                 GROUP BY 1, 2)
      SELECT i, j FROM shared JOIN n ni ON ni.doc_id = i JOIN n nj ON nj.doc_id = j
      WHERE k::DOUBLE / (ni.n + nj.n - k)::DOUBLE >= 0.5""").fetchall()
    out["lsh_pairs"] = "ok" if same_rows(c["pairs"], pairs) else \
        f"{len(c['pairs'])} pairs vs oracle {len(pairs)}"

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for i, j in pairs:
        a, b = find(i), find(j)
        parent[max(a, b)] = min(a, b)
    comps = [(n, find(n)) for n in list(parent)]
    out["components"] = "ok" if same_rows(c["components"], comps) else "labels differ"

    drop = [n for n, r in comps if n != r]
    con.execute("CREATE TABLE dropped (doc_id BIGINT)")
    con.executemany("INSERT INTO dropped VALUES (?)", [(d,) for d in drop])
    con.execute("CREATE TABLE nd AS SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM dropped)")
    g8 = gram_sql(8)
    con.execute(f"""
      CREATE TABLE cont AS
      WITH b AS (SELECT DISTINCT unnest(CASE WHEN length(w) >= 8
                   THEN list_transform(generate_series(1, length(w) - 7), i -> {g8})
                   ELSE [] END) AS g
                 FROM (SELECT string_split(text, ' ') AS w FROM bench)),
      c AS (SELECT doc_id, unnest(CASE WHEN length(w) >= 8
                   THEN list_transform(generate_series(1, length(w) - 7), i -> {g8})
                   ELSE [] END) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM nd))
      SELECT DISTINCT doc_id FROM c JOIN b USING (g)""")
    cont = con.execute("SELECT doc_id FROM cont").fetchall()
    out["decontam"] = "ok" if same_rows(c["contaminated"], cont) else \
        f"{len(c['contaminated'])} flagged vs oracle {len(cont)}"

    targets = c["targets"]
    case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in targets.items())
    packed = con.execute(f"""
      WITH dc AS (SELECT doc_id, lang, length(string_split(text, ' '))::BIGINT AS n_tokens
                  FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
      cnt AS (SELECT lang, count(*) AS n FROM dc
              WHERE lang IN ({", ".join(repr(k) for k in targets)}) GROUP BY 1),
      bud AS (SELECT min(n::DOUBLE / (CASE lang {case} END)::DOUBLE) AS t FROM cnt),
      rt AS (SELECT lang, (CASE lang {case} END)::DOUBLE * t / n::DOUBLE AS rate FROM cnt, bud),
      mx AS (SELECT dc.doc_id, dc.n_tokens FROM dc JOIN rt USING (lang)
             WHERE ('0x' || substring(md5(dc.doc_id::VARCHAR), 1, 15))::BIGINT
                   / 1152921504606846976.0 < rate),
      cs AS (SELECT doc_id, n_tokens, (doc_id % {c['shards']})::INT AS shard,
                    sum(n_tokens) OVER (PARTITION BY doc_id % {c['shards']} ORDER BY doc_id)::BIGINT
                      AS cum_tokens
             FROM mx)
      SELECT doc_id, n_tokens, shard, cum_tokens,
             (cum_tokens - n_tokens) // {c['capacity']} AS bin,
             cum_tokens - n_tokens - ((cum_tokens - n_tokens) // {c['capacity']}) * {c['capacity']}
      FROM cs""").fetchall()
    out["mix_pack"] = "ok" if same_rows(c["packed"], packed) else \
        f"{len(c['packed'])} packed rows vs oracle {len(packed)}"
    return out
