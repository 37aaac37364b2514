"""Seeded CDC batches and purge user for the pipeline workload.

Batch b owns the keys whose seeded hash lands in its 1% slice of the
backfilled days' events, so no key is touched by two batches. Of those,
30% are deletes and the rest updates, a quarter of which carry a second,
later update (ordered by `seq`); a tenth also come back as inserts under
fresh keys. The purge user is the seeded pick among the users with events
on those days. Everything is a function of (events, days, seed).
"""
import os
import shutil

import duckdb


def cdc(events_dir, days, seed, batches, out):
    """Write `out/stream/batch-NN.parquet` and `out/_READY` ("rows user"),
    once."""
    if os.path.isfile(os.path.join(out, "_READY")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "stream"))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    day_list = ", ".join(f"'{d}'" for d in days)
    con.execute(f"""
        CREATE TEMP TABLE src AS
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
               (hash(event_id, {seed}, 'cdc') % 1000000) / 1e6 AS u,
               (hash(event_id, {seed}, 'op') % 1000000) / 1e6 AS v
        FROM read_parquet('{events_dir}/*.parquet')
        WHERE strftime(ts, '%Y-%m-%d') IN ({day_list})""")
    cols = "event_id, ts_us, user_id, event_type, value, prop_k"
    rows = 0
    for b in range(batches):
        mine = f"src WHERE floor(u * 100) = {b}"
        path = os.path.join(tmp, "stream", f"batch-{b:02d}.parquet")
        con.execute(f"""
            COPY (
              SELECT {cols}, 'D' AS op, 1::BIGINT AS seq FROM {mine} AND v < 0.3
              UNION ALL
              SELECT event_id, ts_us, user_id, event_type, round(value + {b + 1}, 2),
                     prop_k, 'U', 1::BIGINT FROM {mine} AND v >= 0.3
              UNION ALL
              SELECT event_id, ts_us, user_id, event_type, round(value * 2 + {b + 1}, 2),
                     prop_k, 'U', 2::BIGINT FROM {mine} AND v >= 0.75
              UNION ALL
              SELECT event_id + 4000000000000000 + {b} * 100000000000, ts_us, user_id,
                     event_type, value, prop_k, 'I', 1::BIGINT FROM {mine} AND v < 0.1
            ) TO '{path}' (FORMAT parquet)""")
        rows += con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0]
    user = con.execute(f"""
        SELECT user_id FROM (SELECT DISTINCT user_id FROM src)
        ORDER BY hash(user_id, {seed}, 'purge'), user_id LIMIT 1""").fetchone()[0]
    with open(os.path.join(tmp, "_READY"), "w") as f:
        f.write(f"{rows} {user}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
