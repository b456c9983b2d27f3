"""Input generator for the fraud_stream workload.

`prepare(seed, out)` writes the reference-schema dimensions (users.csv,
products.csv) and the warm-up and backlog micro-file sets into `out`;
run.py calls it before the harness starts.

    python3 streamgen.py --seed N --seconds S --first K --input DIR
                         --staging DIR --log FILE

is the open-loop producer: one single-threaded process that lands a CSV
micro-file of LIVE_EVENTS_PER_FILE transactions every INTERVAL_S seconds
in DIR, numbering its files from K. Each file is due at a fixed time
from the start; the producer never waits for the engine, and when it
runs late it writes at once and records how late. Every event of a file
is stamped with the file's due time (`timestamp`). Writes go to the
staging directory and are renamed in, so the stream never sees a
partial file. FILE gets one record per file (name, due and written
epoch ms, rows, first sequence number); FILE.rows gets the total row
count.

Transaction ids are W-, L- and B-prefixed sequence numbers for warm-up,
live and backlog events, so the sink can be checked against exactly the
set that was generated.
"""
import argparse
import datetime as dt
import json
import os
import random
import time

# live rate: 200 events every 100 ms (2,000 events/s); warm-up and
# backlog files hold 500 events each
LIVE_EVENTS_PER_FILE = 200
INTERVAL_S = 0.1
EVENTS_PER_FILE = 500
WARMUP_FILES = 24
BACKLOG_FILES = 96
USERS = 10_000
PRODUCTS = 2_000
COUNTRIES = ["US", "UK", "DE", "FR", "IN", "BR", "JP", "KE", "NG", "MX"]
METHODS = ["credit_card", "debit_card", "paypal", "crypto"]
CATEGORIES = ["electronics", "fashion", "home", "sports", "toys", "grocery"]
HEADER = "transaction_id,user_id,product_id,store_id,amount,payment_method,country,timestamp\n"
FIXED_TS = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()


def iso(epoch_s):
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def csv_body(rng, prefix, first, n, epoch_s):
    ts = iso(epoch_s)
    rows = [HEADER]
    for i in range(first, first + n):
        # ~2% of users and products are unknown to the dimensions, so the
        # stream-static left joins see misses
        rows.append(f"{prefix}-{i},{rng.randrange(int(USERS * 1.02))},"
                    f"{rng.randrange(int(PRODUCTS * 1.02))},store_{rng.randrange(50)},"
                    f"{rng.randrange(100, 100000) / 100:.2f},{rng.choice(METHODS)},"
                    f"{rng.choice(COUNTRIES)},{ts}\n")
    return "".join(rows)


def prepare(seed, out):
    rng = random.Random(f"dims-{seed}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "users.csv"), "w") as f:
        f.write("user_id,name,email,country,signup_date\n")
        for u in range(USERS):
            f.write(f"{u},user{u},user{u}@example.com,{rng.choice(COUNTRIES)},"
                    f"2023-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d} 00:00:00\n")
    with open(os.path.join(out, "products.csv"), "w") as f:
        f.write("product_id,name,category,base_price,supplier,country,in_stock,discount\n")
        for p in range(PRODUCTS):
            f.write(f"{p},product{p},{rng.choice(CATEGORIES)},"
                    f"{rng.randrange(100, 100000) / 100:.2f},supplier{rng.randrange(100)},"
                    f"{rng.choice(COUNTRIES)},{rng.choice(['true', 'false'])},"
                    f"{rng.randrange(0, 50)}.0\n")
    for kind, prefix, files in (("warmup", "W", WARMUP_FILES), ("backlog", "B", BACKLOG_FILES)):
        d = os.path.join(out, kind)
        os.makedirs(d, exist_ok=True)
        rng = random.Random(f"{kind}-{seed}")
        for k in range(files):
            with open(os.path.join(d, f"{kind}-{k:06d}.csv"), "w") as f:
                f.write(csv_body(rng, prefix, k * EVENTS_PER_FILE, EVENTS_PER_FILE,
                                 FIXED_TS + k * INTERVAL_S))


def live(seed, seconds, first, input_dir, staging, log_path):
    rng = random.Random(f"live-{seed}-{first}")
    n_files = max(1, int(round(seconds / INTERVAL_S)))
    start = time.time() + 0.05
    log = []
    for k in range(first, first + n_files):
        due = start + (k - first) * INTERVAL_S
        body = csv_body(rng, "L", k * LIVE_EVENTS_PER_FILE, LIVE_EVENTS_PER_FILE, due)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = f"live-{k:06d}.csv"
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, os.path.join(input_dir, name))
        log.append({"file": name, "due_ms": due * 1000.0, "written_ms": time.time() * 1000.0,
                    "rows": LIVE_EVENTS_PER_FILE, "first": k * LIVE_EVENTS_PER_FILE})
    with open(log_path, "w") as f:
        json.dump(log, f)
    with open(log_path + ".rows", "w") as f:
        f.write(str(sum(r["rows"] for r in log)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    live(a.seed, a.seconds, a.first, a.input, a.staging, a.log)


if __name__ == "__main__":
    main()
