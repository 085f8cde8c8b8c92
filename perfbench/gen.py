"""Seeded input generators for the benchmark workloads.

Every generator draws from its own ``random.Random`` seeded with
``(seed, workload)``, writes plain text files in a fixed order, and uses no
clock or hash randomisation, so one seed always gives byte-identical inputs.
The program under test only ever sees these files.
"""
import json
import os
import random

# bucket_load: small batches, so per-commit driver work dominates.
BL_BATCHES = 200          # more than any run loads
BL_FILES_PER_BATCH = 3
BL_ROWS_PER_FILE = 24
BL_NEW_CHANNEL_BATCH = 4  # from here on a right-appended channel, which the
                          # first timed cycle meets (set-up loads 0-2)
BL_SITES = [("perth", 8.0), ("kathmandu", 5.75), ("adelaide", 9.5),
            ("st_johns", -3.5), ("lima", -5.0), ("caracas", -4.5)]

# table_dml: the sf0.1 `events` shape.
EV_ROWS = 100_000
EV_USERS = 1500
EV_TYPES = ["click", "error", "purchase", "signup", "view"]


def rng_for(seed, workload):
    return random.Random(f"{seed}:{workload}")


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(text)


# --------------------------------------------------------------- bucket_load

def _sensor_file(r, day, site, offset, with_pressure, quoted_newline):
    """One site-day CSV: header, regular rows, one jagged row, optionally
    one row whose quoted location holds a newline."""
    cols = ["timestamp", "utc_offset", "location", "temp_c", "humidity"]
    if with_pressure:
        cols.append("pressure_hpa")
    lines = [",".join(cols)]
    for i in range(BL_ROWS_PER_FILE):
        ts = f"{day} {(i * 55) // 60:02d}:{(i * 55) % 60:02d}:00"
        loc = site
        if quoted_newline and i == 3:
            loc = f'"{site}\nnorth"'
        cells = [ts, f"{offset}", loc,
                 f"{r.uniform(-5, 35):.2f}", f"{r.uniform(0.1, 0.9):.3f}"]
        if with_pressure:
            cells.append(f"{r.uniform(980, 1040):.1f}")
        if i == 7:
            cells = cells[:4]          # jagged: trailing channels missing
        lines.append(",".join(cells))
    return "\n".join(lines) + "\n"


def _notification(event_type, bucket, name, seq, kind="storage#object"):
    """[eventType, JSON payload, seq]; the driver base64-encodes the payload
    after putting the bucket's absolute path in place of ``@BUCKET@``."""
    payload = json.dumps({"kind": kind, "selfLink": f"{bucket}/{name}",
                          "bucket": bucket, "name": name},
                         sort_keys=True, separators=(",", ":"))
    return [event_type, payload, seq]


def gen_bucket_load(out, seed):
    """Writes ``bucket/`` (CSV objects) and ``notifications.jsonl`` (one
    OBJECT_FINALIZE frame per batch)."""
    r = rng_for(seed, "bucket_load")
    frames = []
    seq = 0
    for b in range(BL_BATCHES):
        day = _day(2026, 8, 1, b)
        with_pressure = b >= BL_NEW_CHANNEL_BATCH
        names, rows = [], []
        for k in range(BL_FILES_PER_BATCH):
            site, offset = BL_SITES[(b + k) % len(BL_SITES)]
            name = f"sensors/{day[:7]}/b{b:04d}_{k}_{site}.csv"
            _write(os.path.join(out, "bucket", name),
                   _sensor_file(r, day, site, offset, with_pressure, k == 0))
            names.append(name)
            rows.append(BL_ROWS_PER_FILE)
        events = []
        for name in names:
            seq += 1
            events.append(_notification("OBJECT_FINALIZE", "@BUCKET@", name,
                                        seq))
        seq += 1  # the first object is announced twice
        events.append(_notification("OBJECT_FINALIZE", "@BUCKET@", names[0],
                                    seq))
        seq += 1  # an object that matches no task glob
        events.append(_notification("OBJECT_FINALIZE", "@BUCKET@",
                                    f"logs/{day}/agent_{b}.txt", seq))
        r.shuffle(events)
        frames.append({"batch": b, "day": day, "files": names,
                       "rows": sum(rows),
                       "new_channel": with_pressure, "events": events})
    _write(os.path.join(out, "notifications.jsonl"),
           "".join(json.dumps(f, sort_keys=True) + "\n" for f in frames))


def _day(y, m, d, plus):
    import datetime
    return (datetime.date(y, m, d) + datetime.timedelta(days=plus)).isoformat()


# ----------------------------------------------------------------- table_dml

def gen_table_dml(out, seed):
    """``events.csv``: 100,000 rows with the sf0.1 events schema, event_id
    dense from 0 and ts increasing with event_id."""
    r = rng_for(seed, "table_dml")
    lines = ["event_id,ts,user_id,event_type,value,props"]
    t = 1704067200.0  # 2024-01-01 00:00:00 UTC
    for i in range(EV_ROWS):
        t += r.uniform(0.0, 51.8)
        sec = int(t)
        micros = int(round((t - sec) * 1e6)) % 1_000_000
        lines.append(
            f"{i},{_ts(sec)}.{micros:06d},{r.randrange(EV_USERS)},"
            f"{r.choice(EV_TYPES)},{r.randrange(1, 20000) / 100:.2f},"
            f"k{r.randrange(100)}")
    _write(os.path.join(out, "events.csv"), "\n".join(lines) + "\n")


def _ts(epoch_s):
    import datetime
    return datetime.datetime.fromtimestamp(
        epoch_s, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


GENERATORS = {
    "bucket_load": gen_bucket_load,
    "table_dml": gen_table_dml,
}


def generate(workload, out, seed):
    GENERATORS[workload](out, seed)


def input_sizes(out):
    """Files and bytes of a generated input directory."""
    files = total = 0
    for root, _, names in os.walk(out):
        for n in names:
            files += 1
            total += os.path.getsize(os.path.join(root, n))
    return files, total
