"""Seeded stream input staging.

The stream workloads read `EventGen` ride events (the 11-field JSON wire
shape) from pools of parquet files of consecutive event ids that the build
writes once per checkout. For one seed, `stage` hard-links a
seed-chosen window of the pool into a directory, adds small files of planted
events, and writes `plan.txt`, which tells the JVM side what to publish and
what the sink must account for. The seed sets:

  * the id offset of the window (so trip ids, fares, cities and event times
    differ per seed);
  * where events arrive out of order (a whole file delivered one batch or
    one publish slot late, inside the 10-minute watermark);
  * where events older than any watermark (always dropped) are planted;
  * where malformed JSON payloads are planted.

Nothing here depends on the wall clock except the file times `stage` sets to
order the backlog, which are not part of the staged content.
"""
import hashlib
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

# Two pools of EventGen events, disjoint id ranges: the closed loop reads
# files of 50k events (four per micro-batch), the open loop publishes files
# of 2.5k events.
POOLS = {
    "stream_backlog": {"first_id": 1_000_000_000, "events": 50_000, "warm": 1,
                       "offsets": 16, "files": 1 + 6 * 4 + 16},
    "stream_paced": {"first_id": 2_000_000_000, "events": 2_500, "warm": 8,
                     "offsets": 64, "files": 8 + 300 + 64},
}
FILES_PER_BATCH = 4
MAX_BATCHES = 6
MAX_PUBLISH = 300
EPOCH0 = 1704067200.0      # EventGen's default start, 2024-01-01 UTC
EVENTS_PER_SECOND = 1000.0
CITIES = ["nyc", "sf", "la", "chi", "mia", "bos", "sea", "den", "atl", "dal"]


def chunk_name(k):
    return "c-%05d.parquet" % k


def backlog_batches(seconds):
    return min(MAX_BATCHES, max(2, (seconds + 1) // 2))


def paced_files(seconds, min_files=0):
    return min(MAX_PUBLISH, max(min_files, 20 * seconds))


def _late_event(rnd, seq, ts):
    def uid():
        return "%08x-%04x-%04x-%04x-%012x" % tuple(
            rnd.getrandbits(b) for b in (32, 16, 16, 16, 48))

    def loc():
        return {"latitude": "%.6f" % rnd.uniform(-90, 90),
                "longitude": "%.6f" % rnd.uniform(-180, 180)}

    iso = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ts))
    return json.dumps({
        "trip_id": uid(), "driver_id": uid(), "customer_id": uid(),
        "pickup_datetime": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ts - 600)),
        "dropoff_datetime": iso,
        "pickup_location": loc(), "dropoff_location": loc(),
        "fare_amount": round(rnd.uniform(5, 150), 2),
        "tip_amount": round(rnd.uniform(0, 50), 2),
        "city": CITIES[seq % len(CITIES)],
        "event_timestamp": ts}, separators=(",", ":"))


def _write_payloads(path, values):
    pq.write_table(pa.table({"value": pa.array(values, type=pa.string())}), path)


def stage(seed, workload, seconds, pool_dir, out_dir, min_files=0):
    """Stage one run's stream input into `out_dir` (which must not exist).
    The open loop publishes 20 files per second of `seconds`, and at least
    `min_files` (a traced run wants 200, for a 95th percentile with 10
    samples beyond it)."""
    rnd = random.Random(seed)
    os.makedirs(out_dir)
    pool = POOLS[workload]
    size = pool["events"]
    offset = rnd.randrange(pool["offsets"])
    first = offset + pool["warm"]
    warm = list(range(offset, first))
    t_warm = EPOCH0 + (pool["first_id"] + offset * size) / EVENTS_PER_SECOND
    counts = {"late": 0, "malformed": 0, "out_of_order": 0}

    def plants(name):
        # Late: each event in its own minute window, >= 1000 s of event time
        # before the warm-up batch, so every watermark the stream has drops it.
        values = []
        for _ in range(rnd.randint(1, 2)):
            counts["late"] += 1
            ts = t_warm - 1000.0 - 120.0 * counts["late"] - rnd.uniform(0, 59)
            values.append(_late_event(rnd, counts["late"], round(ts, 3)))
        for _ in range(rnd.randint(1, 2)):
            counts["malformed"] += 1
            n = counts["malformed"]
            values.append("not json %d %d" % (seed, n) if n % 2 == 0 else
                          '{"trip_id": "bad-%d-%d", "city": "nyc", "fare_amount": 12.5, '
                          '"event_timestamp": ' % (seed, n))
        _write_payloads(os.path.join(out_dir, name), values)
        return name

    if workload == "stream_backlog":
        files_per_batch = FILES_PER_BATCH + 1
        batches = [list(range(first + b * FILES_PER_BATCH, first + (b + 1) * FILES_PER_BATCH))
                   for b in range(backlog_batches(seconds))]
        for b in range(1, len(batches)):
            if rnd.random() < 0.5:     # one file arrives a batch late
                batches[b - 1][-1], batches[b][0] = batches[b][0], batches[b - 1][-1]
                counts["out_of_order"] += size
        names = [[chunk_name(k) for k in ks] + [plants("p-%03d.parquet" % b)]
                 for b, ks in enumerate(batches)]
        data_chunks = len(batches) * FILES_PER_BATCH
        order_lines = ["batch " + " ".join(ns) for ns in names]
    else:
        files_per_batch = 0
        slots = list(range(first, first + paced_files(seconds, min_files)))
        i = 0
        while i < len(slots) - 1:
            if rnd.random() < 0.1:     # one file published a slot late
                slots[i], slots[i + 1] = slots[i + 1], slots[i]
                counts["out_of_order"] += size
                i += 1
            i += 1
        publish = []
        for j, k in enumerate(slots):
            publish.append(chunk_name(k))
            if j % 20 == 19:
                publish.append(plants("p-%03d.parquet" % (j // 20)))
        data_chunks = len(slots)
        order_lines = ["publish " + n for n in publish]

    for k in warm + list(range(first, first + data_chunks)):
        os.link(os.path.join(pool_dir, chunk_name(k)), os.path.join(out_dir, chunk_name(k)))
    accepted_from = pool["first_id"] + offset * size
    accepted_until = pool["first_id"] + (first + data_chunks) * size
    plan = ["accepted %d %d" % (accepted_from, accepted_until),
            "late %d" % counts["late"], "malformed %d" % counts["malformed"],
            "out_of_order %d" % counts["out_of_order"],
            "files_per_batch %d" % files_per_batch,
            "warm " + " ".join(chunk_name(k) for k in warm)] + order_lines
    with open(os.path.join(out_dir, "plan.txt"), "w") as f:
        f.write("\n".join(plan) + "\n")

    # The file source takes the oldest files first: give the warm-up batch
    # and then each backlog batch strictly later file times.
    now = time.time()
    for k in warm:
        os.utime(os.path.join(out_dir, chunk_name(k)), (now, now))
    if workload == "stream_backlog":
        for b, ns in enumerate(names):
            t = now + b + 1
            for n in ns:
                os.utime(os.path.join(out_dir, n), (t, t))
    return counts


def digest(out_dir):
    """Hash of the staged content: every file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
