"""Seeded generator of wire-format Kinesis records for route_batch and
stream_route.

Each record is a row of the `events` table (replicated until `n` records
exist) rendered as base64 JSON inside the reference's two-level envelope:
{"schema": <envelope id>, "origin", "timestamp", "data": {"schema":
<payload id>, "k", "tag", "value", "attrs": {...}}}. The payload id selects
one of 32 draft-04 documents (`schema_doc`); three in four of them carry the
raw-payload keywords (additionalProperties, patternProperties,
maxProperties) that validate the raw `attrs` object.

A fixed share of records carries exactly one injected fault (`MIX`). The
shares are an arbitrary choice: no public source gives dead-letter rates of
Kinesis handlers, and the reference's tests use single hand-made records.
`fault_scale` multiplies every share (0 gives only valid records), to
measure how the benchmark's figures depend on the mix. The expected verdict of a record is the fault the generator injected; it is
never computed by the engine's router. Every choice comes from
numpy's generator seeded with the seed, so the same seed gives the same
records.

Usage: python3 perfbench/wiregen.py <events.parquet> <seed> <n> <out_dir> [files]
"""
import base64
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENVELOPE_ID = "com.graft/stream/1-0-0"
VENDOR = "com.graft.bench"
NUM_SCHEMAS = 32
ORIGIN_MS = 1704067200000  # arrival of record 0
GAP_MS = 100  # records arrive in order, 100 ms apart

# injected faults in the router's reason vocabulary, per 10 000 records
# (an arbitrary mix, 11.5% in all); the remainder is routed
MIX = [
    ("undecodable", 100),
    ("missing schema", 50),
    ("wrong event schema", 100),
    ("invalid envelope", 100),
    ("unregistered schema", 400),
    ("invalid payload", 400),
]

# verdict name of each reason (None: no fault, routed)
VERDICTS = {
    "routed": None,
    "skipped": "unregistered schema",
    "undecodable": "undecodable",
    "missing_schema": "missing schema",
    "wrong_event_schema": "wrong event schema",
    "invalid_envelope": "invalid envelope",
    "invalid_payload": "invalid payload",
}


def max_k(j):
    return 40 + 2 * j


def uses_raw(j):
    return j % 4 != 0


def schema_id(j):
    return f"{VENDOR}/s{j}/1-0-0"


def schema_doc(j):
    doc = {
        "$schema": "http://json-schema.org/draft-04/schema#",
        "self": {"vendor": VENDOR, "name": f"s{j}", "version": "1-0-0"},
        "type": "object",
        "required": ["k", "tag"],
        "properties": {
            "k": {"type": "integer", "minimum": 0, "maximum": max_k(j)},
            "tag": {"type": "string", "pattern": "^t[0-9]+$"},
        },
    }
    if uses_raw(j):
        doc["patternProperties"] = {"^x-": {"pattern": "^[0-9]+$"}}
        doc["additionalProperties"] = False
        doc["maxProperties"] = 3
    return doc


ENVELOPE_DOC = {
    "$schema": "http://json-schema.org/draft-04/schema#",
    "self": {"vendor": "com.graft", "name": "stream", "version": "1-0-0"},
    "type": "object",
    "required": ["origin", "timestamp"],
    "properties": {"origin": {"type": "string", "pattern": "^[a-z]+(-[a-z]+)*$"}},
}


def load_events(path):
    t = pq.read_table(path, columns=["event_id", "user_id", "value", "props"])
    order = np.argsort(t.column("event_id").to_numpy())
    users = t.column("user_id").to_numpy()[order].tolist()
    values = t.column("value").to_pylist()
    values = [values[i] for i in order]
    ks = [json.loads(p)["k"] if p else 0 for p in t.column("props").to_pylist()]
    ks = [ks[i] for i in order]
    ids = t.column("event_id").to_numpy()[order].tolist()
    return ids, users, values, ks


def records(events, seed, n, fault_scale=1.0):
    """Columns of records [0, n): the wire columns and the expected verdict.
    `fault_scale` multiplies every share of `MIX`."""
    ids, users, values, ks = events
    n_ev = len(ids)
    rng = np.random.default_rng(seed)
    u = rng.integers(0, 10000, n)
    js = rng.integers(0, NUM_SCHEMAS, n)
    sub5 = rng.integers(0, 5, n)
    cuts = np.cumsum([c * fault_scale for _, c in MIX])
    if cuts[-1] > 10000:
        raise ValueError(f"fault_scale {fault_scale} makes the faults exceed every record")
    fault_idx = np.searchsorted(cuts, u, side="right")  # len(MIX) = no fault
    faults = [f for f, _ in MIX] + [None]

    # per-event and per-record text, precomputed where it does not depend
    # on the fault
    value_json = [json.dumps(v) for v in values]
    stamps = np.datetime_as_string(
        (ORIGIN_MS + GAP_MS * np.arange(n)).astype("datetime64[ms]"))
    head = {f: ('' if f == "missing schema"
                else '"schema":"com.graft/other/1-0-0",' if f == "wrong event schema"
                else f'"schema":"{ENVELOPE_ID}",')
            + ('' if f == "invalid envelope" else '"origin":"bench-gen",')
            for f in faults}
    data, pkeys, exp_tag = [], [], []
    b64 = base64.b64encode
    for i in range(n):
        e, r = i % n_ev, i // n_ev
        j = int(js[i])
        fault = faults[fault_idx[i]]
        # invalid-payload sub-fault: 0 k above maximum, 1 tag pattern,
        # 2 k missing, 3 extra attrs key, 4 non-numeric x- value (3 and 4
        # only on documents that validate the raw object)
        bad = fault == "invalid payload"
        sub = (int(sub5[i]) if uses_raw(j) else int(sub5[i]) % 3) if bad else -1
        m = max_k(j)
        k = m + 1 + ks[e] % 7 if sub == 0 else (ks[e] + r) % (m + 1)
        payload_id = (f"{VENDOR}/unknown{j}/1-0-0" if fault == "unregistered schema"
                      else schema_id(j))
        tag = f"bad-{k}" if sub == 1 else f"t{ids[e]}"
        kfield = "" if sub == 2 else f'"k":{k},'
        xa = "abc" if sub == 4 else str(users[e] % 1000)
        extra = ',"zz":1' if sub == 3 else ""
        text = (f'{{{head[fault]}"timestamp":"{stamps[i]}Z","data":{{"schema":"{payload_id}",'
                f'{kfield}"tag":"{tag}","value":{value_json[e]},'
                f'"attrs":{{"k":{k},"x-a":"{xa}"{extra}}}}}}}')
        wire = b64(text.encode()).decode()
        data.append("!" + wire if fault == "undecodable" else wire)  # '!' is not base64
        pkeys.append(f"u{users[e]}-{r % 16}")
        exp_tag.append("branch:" + payload_id if fault is None
                       else "skipped" if fault == "unregistered schema" else "badmsg")
    seqs = np.char.zfill(np.arange(n).astype(str), 20)
    arrival = (ORIGIN_MS + GAP_MS * np.arange(n)) / 1000.0
    exp_reason = [faults[f] for f in fault_idx]
    return {"data": data, "partitionKey": pkeys, "sequenceNumber": seqs,
            "approximateArrivalTimestamp": arrival,
            "expected_tag": exp_tag, "expected_reason": exp_reason}


def write(events, seed, n, out, files, fault_scale=1.0):
    """Write `files` wire parquet files in record order under out/wire, the
    per-record expected verdicts under out/expected.parquet, the
    documents under out/registry, and the records per (tag, reason), per
    verdict, and per (tag, reason) of the first file in
    out/expected_counts.json. Returns the per-verdict counts.
    """
    cols = records(events, seed, n, fault_scale)
    wire_dir = os.path.join(out, "wire")
    os.makedirs(wire_dir, exist_ok=True)
    for f in os.listdir(wire_dir):
        os.remove(os.path.join(wire_dir, f))
    wire = pa.table({c: cols[c] for c in ("data", "partitionKey", "sequenceNumber",
                                          "approximateArrivalTimestamp")})
    bounds = np.linspace(0, n, files + 1).astype(int)
    for p in range(files):
        pq.write_table(wire.slice(bounds[p], bounds[p + 1] - bounds[p]),
                       os.path.join(wire_dir, f"part-{p:05d}.parquet"))
    pq.write_table(pa.table({c: cols[c] for c in ("sequenceNumber", "expected_tag",
                                                  "expected_reason")}),
                   os.path.join(out, "expected.parquet"))
    reg = os.path.join(out, "registry")
    os.makedirs(reg, exist_ok=True)
    for j in range(NUM_SCHEMAS):
        with open(os.path.join(reg, f"s{j:02d}.json"), "w") as f:
            json.dump(schema_doc(j), f, indent=1)
    with open(os.path.join(reg, "envelope.json"), "w") as f:
        json.dump(ENVELOPE_DOC, f, indent=1)
    def by_tag(lo, hi):
        counts = {}
        for t, r in zip(cols["expected_tag"][lo:hi], cols["expected_reason"][lo:hi]):
            counts[(t, r)] = counts.get((t, r), 0) + 1
        return [{"tag": t, "reason": r, "n": c}
                for (t, r), c in sorted(counts.items(), key=str)]
    tags = by_tag(0, n)
    verdicts = {v: sum(e["n"] for e in tags if e["reason"] == reason)
                for v, reason in VERDICTS.items()}
    with open(os.path.join(out, "expected_counts.json"), "w") as f:
        json.dump({"verdicts": verdicts, "verdict_reasons": VERDICTS, "by_tag": tags,
                   # the streaming replay reads the first wire file
                   "replay_file": "part-00000.parquet",
                   "replay_by_tag": by_tag(0, int(bounds[1]))}, f)
    return verdicts


if __name__ == "__main__":
    a = sys.argv[1:]
    print(json.dumps(write(load_events(a[0]), int(a[1]), int(a[2]), a[3],
                           int(a[4]) if len(a) > 4 else 4)))
