"""Seeded input generator for the benchmark (DuckDB, single-threaded so the
same seed always writes the same rows).

Two inputs:

* an events log: ``n_events`` read events over 90 days from 2024-01-01,
  identifier popularity Zipf(1) over ``N_IDS`` identifiers, and a share of
  events that arrive late (1-3 days after their event day). Written as
  ``events.parquet`` (the whole log, read by ``api_dashboard`` and used as
  the identifier registry), ``base/events.parquet`` (everything that
  arrived in the first 60 days) and ``landing/dNN/events.parquet`` (what
  arrived on day NN, for ``counter_batch``).
* a documents corpus: ``n_docs`` documents with planted exact duplicates,
  near duplicates (a few words replaced) and benchmark contamination (a
  12-word span copied from a benchmark document), plus the benchmark set
  itself. Written as ``documents.parquet`` and ``benchmark.parquet``.

Small text manifests ride along for the benchmark itself (never read by the
engine): ``ids.txt`` (identifiers, most frequent first), ``landing_rows.txt``
(rows per landed batch) and ``n_docs.txt``.

Output goes to ``<root>/<kind>-s<seed>-n<size>/`` once and is reused; a
``DONE`` marker is written last, so a half-written directory is rebuilt.
"""
import os
import shutil
import time

import duckdb

# The popularity exponent (1), the late share and lateness (3%, 1-3 days),
# the duplicate and contamination shares and the near-duplicate edit rate
# (3% of words) below are assumptions: no measured traffic or corpus is
# available to take them from.
DAYS = 90
BASE_DAYS = 60
N_IDS = 5000
LATE_SHARE = 0.03
VOCAB = 5000
N_BENCH_DOCS = 200
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
CONTAM_SHARE = 0.02


def _connect(seed):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    # uniform in [0, 1) from (row, stream); hash() is deterministic
    con.execute(f"CREATE MACRO u(i, k) AS "
                f"(hash(i, k, {int(seed)}) % 4294967296) / 4294967296.0")
    return con


def _events(con, out, n_events):
    con.execute(f"""
    CREATE TABLE ev AS
    WITH r AS (SELECT range AS i FROM range({int(n_events)})),
    z AS (
      SELECT i,
             -- the first N_IDS events give every identifier one event (the
             -- identifier dimensions derive obsolescence chains u -> u-50
             -- from the log's ids, and a chain needs every version present);
             -- the rest are Zipf(1): a log-uniform rank, seeded relabelling
             -- (7919 is coprime to N_IDS, so ranks map 1:1 onto ids)
             CASE WHEN i < {N_IDS} THEN i
                  ELSE ((least(floor(exp(u(i, 1) * ln({N_IDS}))), {N_IDS})::BIGINT - 1)
                        * 7919 + floor(u(0, 99) * {N_IDS})::BIGINT) % {N_IDS}
             END AS user_id,
             floor(u(i, 2) * {DAYS})::INT AS day,
             floor(u(i, 3) * 86400000000)::BIGINT AS us,
             u(i, 4) AS t,
             CASE WHEN u(i, 5) < {LATE_SHARE}
                  THEN 1 + floor(u(i, 6) * 3)::INT ELSE 0 END AS late,
             floor(u(i, 7) * 100)::INT AS k,
             round(u(i, 8) * 50, 2) AS value
      FROM r)
    SELECT user_id, TIMESTAMP '2024-01-01' + to_days(day) + to_microseconds(us) AS ts,
           CASE WHEN t < 0.50 THEN 'view' WHEN t < 0.65 THEN 'purchase'
                WHEN t < 0.85 THEN 'click' WHEN t < 0.90 THEN 'signup'
                ELSE 'error' END AS event_type,
           value, '{{"k": ' || k || '}}' AS props,
           day + late AS arrival_day
    FROM z ORDER BY ts, i""")
    con.execute("""CREATE TABLE evn AS
      SELECT (row_number() OVER () - 1)::BIGINT AS event_id, * FROM ev""")
    cols = "event_id, ts, user_id, event_type, value, props"
    # row groups of 50k rows, so a scan of the log splits across cores
    con.execute(f"COPY (SELECT {cols} FROM evn) TO '{out}/events.parquet' "
                "(FORMAT parquet, ROW_GROUP_SIZE 50000)")
    os.makedirs(f"{out}/base")
    con.execute(f"COPY (SELECT {cols} FROM evn WHERE arrival_day < {BASE_DAYS}) "
                f"TO '{out}/base/events.parquet' (FORMAT parquet)")
    for d in range(BASE_DAYS, DAYS):
        os.makedirs(f"{out}/landing/d{d}")
        con.execute(f"COPY (SELECT {cols} FROM evn WHERE arrival_day = {d}) "
                    f"TO '{out}/landing/d{d}/events.parquet' (FORMAT parquet)")
    rows = con.execute(f"""
      SELECT CASE WHEN arrival_day < {BASE_DAYS} THEN 'base'
                  ELSE 'd' || arrival_day END, count(*)
      FROM evn GROUP BY 1 ORDER BY 1""").fetchall()
    with open(f"{out}/landing_rows.txt", "w") as f:
        f.writelines(f"{k},{n}\n" for k, n in rows)
    ids = con.execute("SELECT user_id FROM evn GROUP BY 1 "
                      "ORDER BY count(*) DESC, user_id").fetchall()
    with open(f"{out}/ids.txt", "w") as f:
        f.writelines(f"{i}\n" for (i,) in ids)


def _corpus(con, out, n_docs):
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_contam = int(n_docs * CONTAM_SHARE)
    n_orig = n_docs - n_exact - n_near - n_contam
    con.execute(f"""
    CREATE TABLE bench AS
    SELECT range AS doc_id,
           array_to_string(list_transform(range(50),
             k -> 'w' || floor(u(range * 1000 + k, 51) * {VOCAB})::INT), ' ') AS text
    FROM range({N_BENCH_DOCS})""")
    con.execute(f"""
    CREATE TABLE orig AS
    SELECT range AS doc_id,
           array_to_string(list_transform(range(40 + floor(u(range, 11) * 80)::INT),
             k -> 'w' || floor(u(range * 1000 + k, 12) * {VOCAB})::INT), ' ') AS text,
           u(range, 13) AS t
    FROM range({n_orig})""")
    con.execute(f"""
    CREATE TABLE docs AS
    SELECT doc_id, text, t FROM orig
    UNION ALL
    SELECT {n_orig} + range, o.text, u(range, 21)
    FROM range({n_exact}) JOIN orig o
      ON o.doc_id = floor(u(range, 22) * {n_orig})::BIGINT
    UNION ALL
    SELECT {n_orig + n_exact} + range,
           array_to_string(list_transform(string_split(o.text, ' '),
             (w, k) -> CASE WHEN u(range * 1000 + k, 32) < 0.03
                            THEN 'x' || floor(u(range * 1000 + k, 33) * {VOCAB})::INT
                            ELSE w END), ' '),
           u(range, 31)
    FROM range({n_near}) JOIN orig o
      ON o.doc_id = floor(u(range, 34) * {n_orig})::BIGINT
    UNION ALL
    SELECT {n_orig + n_exact + n_near} + range,
           array_to_string(
             string_split(o.text, ' ')[1:20]
             || string_split(b.text, ' ')[1 + floor(u(range, 43) * 30)::INT:
                                          12 + floor(u(range, 43) * 30)::INT]
             || string_split(o.text, ' ')[21:], ' '),
           u(range, 41)
    FROM range({n_contam})
    JOIN orig o ON o.doc_id = floor(u(range, 42) * {n_orig})::BIGINT
    JOIN bench b ON b.doc_id = floor(u(range, 44) * {N_BENCH_DOCS})::BIGINT""")
    con.execute(f"""COPY (
      SELECT doc_id, text,
             CASE WHEN t < 0.45 THEN 'en' WHEN t < 0.70 THEN 'es'
                  WHEN t < 0.90 THEN 'de' ELSE 'fr' END AS lang
      FROM docs ORDER BY doc_id) TO '{out}/documents.parquet' (FORMAT parquet)""")
    con.execute(f"COPY (SELECT doc_id, text FROM bench ORDER BY doc_id) "
                f"TO '{out}/benchmark.parquet' (FORMAT parquet)")
    with open(f"{out}/n_docs.txt", "w") as f:
        f.write(f"{n_docs}\n")


def generate(root, kind, seed, size):
    """Return (directory, seconds spent generating; 0.0 when reused)."""
    out = os.path.join(root, f"{kind}-s{seed}-n{size}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    con = _connect(seed)
    try:
        {"events": _events, "corpus": _corpus}[kind](con, out, size)
    finally:
        con.close()
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    return out, time.perf_counter() - t0
