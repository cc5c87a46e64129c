"""Seeded generator for the `populate_waves` hourly chunks.

Each wave lands one hour of acquisition data as two parquet files:
- `events-HH.parquet`: events-shaped rows at about the reference's
  CameraPosition density (~12k rows per hour), eight position streams
  (`user_id`) whose `value` is a random walk;
- `spikes-HH.parquet`: one spike-train block per hour, (block, unit, us)
  rows. Neurons keep a spike-time template across blocks (with jitter
  below the matching window and some dropped spikes), are relabelled per
  block, and a new neuron appears now and then, so unit matching both
  inherits and mints global ids.

The wave plan lands the hours in order; the last wave also re-lands the
first hour under a new file name (a replay).

Usage: python3 perfbench/chunks.py <outDir> <seed>  (prints the plan)
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WAVES = 2
ROWS_PER_HOUR = 12000
STREAMS = 8
NEURONS = 10
SPIKES_PER_NEURON = 150
HOUR_US = 3_600_000_000
START = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def events(rng, hour, last_value):
    n = ROWS_PER_HOUR
    base = int(START.timestamp() * 1e6) + hour * HOUR_US
    offs = np.sort(rng.integers(0, HOUR_US, n))
    users = rng.integers(0, STREAMS, n)
    steps = rng.normal(0.0, 1.5, n)
    values = np.empty(n)
    for u in range(STREAMS):
        m = users == u
        values[m] = last_value[u] + np.cumsum(steps[m])
        if m.any():
            last_value[u] = values[m][-1]
    return pa.table({
        "event_id": hour * 1_000_000 + np.arange(n, dtype=np.int64),
        "ts": pa.array(base + offs, pa.timestamp("us", tz="UTC")),
        "user_id": users.astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(values, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def spikes(rng, block, templates):
    if block > 0 and rng.random() < 0.5:
        templates.append(np.sort(rng.choice(HOUR_US, SPIKES_PER_NEURON, replace=False)))
    labels = rng.permutation(len(templates))
    rows_unit, rows_us = [], []
    for neuron, times in enumerate(templates):
        keep = times[rng.random(len(times)) > 0.1]
        jitter = rng.integers(-2, 3, len(keep))
        rows_unit.append(np.full(len(keep), labels[neuron], dtype=np.int64))
        rows_us.append(np.clip(keep + jitter, 0, None))
    unit = np.concatenate(rows_unit)
    return pa.table({
        "block": np.full(len(unit), block, dtype=np.int64),
        "unit": unit,
        "us": np.concatenate(rows_us).astype(np.int64)})


def generate(out_dir, seed):
    """Writes the chunks and returns the wave plan: per wave, the hours it
    lands; a replay of hour h is written -(h + 1). The last wave also
    re-lands the first hour under a new file name."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    last_value = rng.normal(0.0, 10.0, STREAMS)
    templates = [np.sort(rng.choice(HOUR_US, SPIKES_PER_NEURON, replace=False))
                 for _ in range(NEURONS)]
    for h in range(WAVES):
        pq.write_table(events(rng, h, last_value), os.path.join(out_dir, f"events-{h:02d}.parquet"))
        pq.write_table(spikes(rng, h, templates), os.path.join(out_dir, f"spikes-{h:02d}.parquet"))
    plan = [[h] for h in range(WAVES)]
    plan[-1].append(-1)
    return plan


if __name__ == "__main__":
    print(";".join(",".join(map(str, w)) for w in generate(sys.argv[1], int(sys.argv[2]))))
