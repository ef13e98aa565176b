"""Output checks: query results against their DuckDB oracle, and the
sensor export against the staged recording.

Query grading mirrors the repository's oracle gate (tools/oracle_check.py):
columns sorted by name, floats rounded to 9 places, rows compared in order
with rtol/atol 1e-9, and an int column on one side against a float column
on the other is a mismatch. A query without an oracle must return rows."""

import glob
import os
import threading

import numpy as np
import pandas as pd

ORACLE_TIMEOUT_S = 30.0


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            df[c] = s.round(9)
        elif s.dtype == bool:
            df[c] = s.astype(int)
        elif str(s.dtype).startswith(("int", "uint")):
            df[c] = s.astype("int64")
    return df


def _read_dump(d):
    # part files in partition order: an ordered result spans them in order
    parts = sorted(glob.glob(os.path.join(d, "*.parquet")))
    return pd.concat([pd.read_parquet(p) for p in parts]) if parts else pd.DataFrame()


def same_frame(spark_df, oracle_df):
    """None when the two results agree, else a one-line reason."""
    a, b = _norm(spark_df.copy()), _norm(oracle_df.copy())
    if len(a) != len(b):
        return "rows %d != %d" % (len(a), len(b))
    if list(a.columns) != list(b.columns):
        return "columns %s != %s" % (list(a.columns), list(b.columns))
    for c in a.columns:
        if {a[c].dtype.kind, b[c].dtype.kind} in ({"i", "f"}, {"u", "f"}):
            return "column %s is %s against %s" % (c, a[c].dtype, b[c].dtype)
    try:
        pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True),
                                      check_dtype=False, check_exact=False,
                                      rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return "values differ: " + str(e).split("\n")[0]
    return None


def grade_queries(names, oracles, tables_dir, out_dir):
    """{name: reason} for every query whose dumped result is missing or
    disagrees with its oracle."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (os.path.basename(t)[:-8], t))
    wrong = {}
    for name in sorted(set(names)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            wrong[name] = "no result dump (the query failed)"
            continue
        got = _read_dump(d)
        sql = oracles.get(name)
        if sql is None:
            if len(got) == 0:
                wrong[name] = "no oracle and no rows"
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run grades nothing
            wrong[name] = "oracle failed: %s" % str(e).split("\n")[0]
            continue
        finally:
            timer.cancel()
        reason = same_frame(got, want)
        if reason:
            wrong[name] = reason
    con.close()
    return wrong


# ---- sensor export -------------------------------------------------------

STEP_US = 33000  # the synchronisation grid, Synchronize.DefaultStepUs
TOL_US = 100000  # strict event tolerance, Synchronize.DefaultTolUs
LO, HI = -900, 10000  # Clean.outOfRange: strict bounds on every numeric column


def _read_csv_dir(d):
    parts = sorted(glob.glob(os.path.join(d, "*.csv")))
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def _us(series):
    """Timestamps (naive ones read as UTC) as epoch microseconds."""
    t = pd.to_datetime(series, utc=True, format="ISO8601").dt.tz_convert(None)
    return t.astype("datetime64[us]").astype("int64")


def _cleaned(in_dir, name):
    """The staged table's rows that survive cleaning: no missing value and
    every numeric column within the range filter."""
    df = _read_csv_dir(os.path.join(in_dir, name))
    num = df.drop(columns=["timestamp"]).select_dtypes("number")
    keep = df.notna().all(axis=1) & ((num >= LO) & (num <= HI)).all(axis=1)
    out = df.loc[keep].copy()
    out["ts"] = _us(out["timestamp"])
    return out


def expected_sync(in_dir):
    """(first tick us, tick count, {event type: set of tick us}) of the
    synchronised table, derived from the staged recording. The cleaned
    camera and IMU rows bound the overlap window that the 33 ms grid
    spans; each cleaned log event sets its type's bit on the nearest tick
    (ties to the earlier tick) when strictly within 100 ms of it."""
    cam, mot = _cleaned(in_dir, "camera"), _cleaned(in_dir, "motion")
    start = int(max(cam.ts.min(), mot.ts.min()))
    ticks = int((min(cam.ts.max(), mot.ts.max()) - start) // STEP_US + 1)
    log = _cleaned(in_dir, "log")
    k = np.ceil((log.ts.to_numpy() - start - STEP_US / 2) / STEP_US).clip(0, ticks - 1)
    tick = start + k.astype(np.int64) * STEP_US
    near = np.abs(log.ts.to_numpy() - tick) < TOL_US
    events = {}
    for t, kind in zip(tick[near], log.event_type.to_numpy()[near]):
        events.setdefault(kind, set()).add(int(t))
    return start, ticks, events


def export_summary(out_dir):
    """(table, checksum) of the exported table, timestamps in epoch us.
    The checksum is order-independent: the wrapping sum of per-row hashes
    over name-sorted columns, with floats rounded to 6 places so a change
    of float association does not read as wrong."""
    df = _read_csv_dir(out_dir)
    df = df.reindex(sorted(df.columns), axis=1)
    df["timestamp"] = _us(df["timestamp"])
    hashed = df.copy()
    for c in hashed.columns:
        if hashed[c].dtype.kind == "f":
            hashed[c] = hashed[c].round(6)
    h = pd.util.hash_pandas_object(hashed, index=False).to_numpy(dtype=np.uint64)
    return df, int(np.add.reduce(h, dtype=np.uint64))


SENSOR_COLUMNS = (["camera_" + c for c in ("frame_id", "object_x", "object_y", "object_size",
                                           "confidence")]
                  + ["motion_" + c for c in ("accel_x", "accel_y", "accel_z", "gyro_x",
                                             "gyro_y", "gyro_z")])


def grade_export(in_dir, out_dir, recorded=None):
    """(reason, (rows, checksum)): reason is None when the export matches
    the recording. Always checks the grid (row count, first and last
    tick), the columns and every event bit; `recorded` (rows, checksum)
    adds the exact check of every value for a recorded seed and size."""
    try:
        df, checksum = export_summary(out_dir)
    except (ValueError, KeyError) as e:
        return "export unreadable: %s" % e, None
    return _check_export(df, checksum, in_dir, recorded), (len(df), checksum)


def _check_export(df, checksum, in_dir, recorded):
    start, ticks, events = expected_sync(in_dir)
    want_cols = sorted(["timestamp"] + SENSOR_COLUMNS + ["event_" + t for t in events])
    if list(df.columns) != want_cols:
        return "export columns %s, expected %s" % (list(df.columns), want_cols)
    ts = df["timestamp"]
    if len(df) != ticks or ts.min() != start or ts.max() != start + (ticks - 1) * STEP_US:
        return "export grid %d rows [%d, %d], expected %d rows from %d" % (
            len(df), ts.min(), ts.max(), ticks, start)
    for kind, want in events.items():
        got = set(ts[df["event_" + kind] == 1].tolist())
        if got != want:
            return "event_%s set on %d ticks, expected %d" % (kind, len(got), len(want))
    if recorded is not None and (len(df), checksum) != tuple(recorded):
        return "export checksum %d over %d rows, recorded %d over %d" % (
            checksum, len(df), recorded[1], recorded[0])
    return None
