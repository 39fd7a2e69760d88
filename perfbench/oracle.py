"""Output checks: every check recomputes the expected answer apart from the
engine, from the generated inputs, in DuckDB and plain Python.

Each ``check_*`` function returns a list of failure messages; an empty
list means the workload's outputs are correct.
"""
import glob
import math
import os

import duckdb

LATENESS_US = 10 * 1_000_000
JAN_START_US = 1704067200 * 1_000_000
FEB_START_US = JAN_START_US + 31 * 86_400 * 1_000_000


def _con(tmp):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tmp}'")  # spill stays in the run
    return con


# ------------------------------------------------------ medallion_stream

def is_valid(user_id, ts_us, value):
    """The Silver quality filter: user present, value non-negative, event
    time inside January 2024."""
    return (user_id is not None and ts_us is not None and value is not None
            and value >= 0 and JAN_START_US <= ts_us < FEB_START_US)


def replay_silver(batches, lateness_us=LATENESS_US):
    """Expected streaming Silver for batches processed in landing order.

    Each batch is a list of (event_id, user_id, event_type, ts_us, value).
    The watermark a batch sees is the largest valid event time of all
    earlier batches minus the lateness; a valid row at or behind it is
    dropped as late, and a valid row whose (user_id, event_type, ts) was
    already kept is dropped as a duplicate. Returns (kept rows, number of
    valid rows dropped as late)."""
    seen, kept, late, max_ts = set(), [], 0, None
    for rows in batches:
        wm = None if max_ts is None else max_ts - lateness_us
        valid = [r for r in rows if is_valid(r[1], r[3], r[4])]
        for r in valid:
            if wm is not None and r[3] <= wm:
                late += 1
                continue
            key = (r[1], r[2], r[3])
            if key not in seen:
                seen.add(key)
                kept.append(r)
        if valid:
            top = max(r[3] for r in valid)
            max_ts = top if max_ts is None else max(max_ts, top)
    return kept, late


def check_medallion(inputs, res, planted_late):
    con = _con(f"{inputs}/duckdb_tmp")
    check = res["check"]
    n = check["landed_batches"]
    fails = []
    files = [f"{inputs}/sf/events.parquet/batch-{i:05d}.parquet"
             for i in range(n)]
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        return [f"{len(missing)} landed batch files missing"]
    cols = "event_id, user_id, event_type, epoch_us(ts) AS ts, value"
    batches = [con.execute(f"SELECT {cols} FROM read_parquet('{f}')").fetchall()
               for f in files]
    landed = sum(len(b) for b in batches)
    bronze = con.execute(
        f"SELECT count(*) FROM read_parquet('{inputs}/bronze/*.parquet')"
    ).fetchone()[0]
    if bronze != landed:
        fails.append(f"bronze rows {bronze} != landed rows {landed}")
    kept, late = replay_silver(batches)
    got = sorted(con.execute(
        f"SELECT event_id, user_id, event_type, epoch_us(event_ts), value "
        f"FROM read_parquet('{inputs}/silver/*.parquet')").fetchall())
    if got != sorted(kept):
        fails.append(f"silver differs from the replay: {len(got)} rows vs "
                     f"{len(kept)} expected, first diff "
                     f"{_first_diff(got, sorted(kept))}")
    if late != planted_late:
        fails.append(f"replay drops {late} late rows, {planted_late} planted")
    if check["dropped_by_watermark"] != late:
        fails.append(f"engine dropped {check['dropped_by_watermark']} rows by "
                     f"watermark, replay {late}")
    lst = ", ".join(f"'{f}'" for f in files)
    got = con.execute(
        "SELECT CAST(event_date AS VARCHAR), event_type, n, total_value "
        f"FROM read_parquet('{inputs}/mv/*.parquet') ORDER BY 1, 2").fetchall()
    exp = con.execute(
        "SELECT CAST(CAST(ts AS DATE) AS VARCHAR), event_type, count(*), "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) "
        f"FROM read_parquet([{lst}]) GROUP BY ALL ORDER BY 1, 2").fetchall()
    if got != exp:
        fails.append(f"gold MV differs: first diff {_first_diff(got, exp)}")
    # the analytics reads: each entry's answer over everything landed
    # against the entry's own oracle SQL over the same files
    # (event time as a plain TIMESTAMP, the type of the engine's test tables)
    con.execute("CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) "
                "AS ts, user_id, event_type, value, props "
                f"FROM read_parquet([{lst}])")
    return fails + check_queries(con, f"{inputs}/results", check["oracle"])


# -------------------------------------------------------- catalog queries

def _canon(df):
    """The canonical form scripts/compare.py hashes: columns sorted by
    name, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _cells_equal(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if a != a and b != b:
            return True
    except Exception:
        pass
    return a == b


def check_queries(con, results, oracle):
    """Compare each entry's parquet answer under `results` with its oracle
    SQL, run on `con` (which holds the tables as views)."""
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{results}/{name}/*.parquet")
        if not files:
            fails.append(f"{name}: no engine output")
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df()
        if sql is None:
            if len(got) == 0:
                fails.append(f"{name}: no rows")
            continue
        exp = con.execute(sql).df()
        got, exp = _canon(got), _canon(exp)
        if list(got.columns) != list(exp.columns):
            fails.append(f"{name}: columns {list(got.columns)} != "
                         f"{list(exp.columns)}")
        elif len(got) != len(exp):
            fails.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif len(got) == 0:
            fails.append(f"{name}: empty result, nothing checked")
        else:
            for c in got.columns:
                if got[c].dtype.kind != exp[c].dtype.kind:
                    fails.append(f"{name}.{c}: dtype {got[c].dtype} != "
                                 f"{exp[c].dtype}")
                    break
                bad = [(g, e) for g, e in zip(got[c].tolist(), exp[c].tolist())
                       if not _cells_equal(g, e)]
                if bad:
                    fails.append(f"{name}.{c}: {len(bad)} cells differ, "
                                 f"first {bad[0]}")
                    break
    return fails


# ------------------------------------------------------------- lake_dml

LAKE_COLS = "event_id, user_id, event_type, event_ts, value, event_date"
LAKE_AGG = ("SELECT CAST(event_date AS VARCHAR), event_type, count(*), "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) FROM t "
            "WHERE event_date >= DATE '1970-01-01' + INTERVAL {d} DAY "
            "GROUP BY ALL ORDER BY 1, 2")
LAKE_LOOKUP = ("SELECT event_id, user_id, event_type, epoch_us(event_ts), "
               "value, CAST(event_date AS VARCHAR) FROM t "
               "WHERE event_id IN ({keys}) ORDER BY event_id")


def apply_cdc(con, cdc_sql):
    """Apply one CDC batch to table t with the MERGE's semantics: a source
    row matching a target row on (event_id, event_date) deletes it when
    op = 'D' and otherwise overwrites its other columns; an unmatched row
    is inserted when op = 'I' and otherwise ignored."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {cdc_sql}")
    con.execute("CREATE OR REPLACE TEMP TABLE m AS SELECT s.* FROM s JOIN t "
                "USING (event_id, event_date)")
    con.execute("DELETE FROM t WHERE (event_id, event_date) IN "
                "(SELECT (event_id, event_date) FROM m WHERE op = 'D')")
    con.execute("UPDATE t SET user_id = m.user_id, event_type = m.event_type, "
                "event_ts = m.event_ts, value = m.value FROM m "
                "WHERE t.event_id = m.event_id AND t.event_date = m.event_date "
                "AND m.op <> 'D'")
    con.execute(f"INSERT INTO t SELECT {LAKE_COLS} FROM s WHERE op = 'I' AND "
                "(event_id, event_date) NOT IN "
                "(SELECT (event_id, event_date) FROM m)")


def check_lake(inputs, res):
    con = _con(f"{inputs}/duckdb_tmp")
    check = res["check"]
    merges = check["merges"]
    fails = []
    con.execute(f"CREATE TABLE t AS SELECT {LAKE_COLS} FROM "
                f"read_parquet('{inputs}/initial.parquet')")
    reads = {r["round"]: r for r in check["reads"]}
    for r in range(merges):
        apply_cdc(con, f"SELECT * FROM read_parquet("
                       f"'{inputs}/cdc/batch-{r:05d}.parquet')")
        got = reads.get(r)
        if got is None:
            fails.append(f"round {r}: no read answer recorded")
            continue
        from_day, keys = _read_request(inputs, r)
        exp = [list(x) for x in con.execute(LAKE_AGG.format(d=from_day)).fetchall()]
        agg = [[str(a[0]), a[1], a[2], a[3]] for a in got["agg"]]
        if agg != exp:
            fails.append(f"round {r}: aggregate read differs: "
                         f"{_first_diff(agg, exp)}")
        exp = [list(x) for x in con.execute(LAKE_LOOKUP.format(
            keys=",".join(map(str, keys)))).fetchall()]
        look = [[a[0], a[1], a[2], a[3], a[4], str(a[5])] for a in got["lookup"]]
        if look != exp:
            fails.append(f"round {r}: key lookup differs: "
                         f"{_first_diff(look, exp)}")
    q = (f"SELECT event_id, user_id, event_type, epoch_us(event_ts), value, "
         f"CAST(event_date AS VARCHAR) FROM {{}} ORDER BY event_id")
    exp = con.execute(q.format("t")).fetchall()
    got = con.execute(q.format(
        f"read_parquet('{check['final_dump']}/**/*.parquet', "
        f"hive_partitioning = true)")).fetchall()
    if got != exp:
        fails.append(f"final table differs from the CDC replay: {len(got)} vs "
                     f"{len(exp)} rows, first diff {_first_diff(got, exp)}")
    if check["versions"] != 1 + merges:
        fails.append(f"{check['versions']} table versions after {merges} "
                     f"merges, expected {1 + merges}")
    return fails


def _read_request(inputs, r):
    with open(f"{inputs}/reads.txt") as f:
        day, keys = f.read().splitlines()[r].split(" ")
    return int(day), [int(k) for k in keys.split(",")]


def _first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"#{i}: {x} vs {y}"
    return f"lengths {len(a)} vs {len(b)}"
