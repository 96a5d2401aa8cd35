"""Tests of the benchmark's record generator.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import base64
import binascii
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import wiregen  # noqa: E402

EVENTS = wiregen.load_events(os.path.join(os.path.dirname(HERE), "data", "sf0.01",
                                          "events.parquet"))
N = 20000


def decode(data):
    try:
        return json.loads(base64.b64decode(data, validate=True))
    except (binascii.Error, ValueError):
        return None


def payload_valid(doc, data):
    """The draft-04 keywords the generated documents use, checked on the
    decoded payload with its raw `attrs` object.
    """
    for k in doc["required"]:
        if k not in data:
            return False
    p = doc["properties"]
    if "k" in data and not p["k"]["minimum"] <= data["k"] <= p["k"]["maximum"]:
        return False
    if not re.search(p["tag"]["pattern"], data["tag"]):
        return False
    attrs = data["attrs"]
    if doc.get("additionalProperties") is False:
        if any(key not in p and not key.startswith("x-") for key in attrs):
            return False
        if any(key.startswith("x-") and not re.search("^[0-9]+$", str(v))
               for key, v in attrs.items()):
            return False
        if len(attrs) > doc["maxProperties"]:
            return False
    return True


def verdict(rec):
    """The router's reason for one record, worked out from the reference's
    rules on the decoded record, independently of the generator's labels.
    """
    ev = decode(rec)
    if ev is None:
        return "undecodable"
    if "schema" not in ev:
        return "missing schema"
    if ev["schema"] != wiregen.ENVELOPE_ID:
        return "wrong event schema"
    if not re.search("^[a-z]+(-[a-z]+)*$", ev.get("origin", "")) or "timestamp" not in ev:
        return "invalid envelope"
    data = ev["data"]
    m = re.fullmatch(re.escape(wiregen.VENDOR) + r"/s(\d+)/1-0-0", data["schema"])
    if not m or int(m.group(1)) >= wiregen.NUM_SCHEMAS:
        return "unregistered schema"
    if not payload_valid(wiregen.schema_doc(int(m.group(1))), data):
        return "invalid payload"
    return None


class WireGenTest(unittest.TestCase):

    def test_same_seed_same_records(self):
        a = wiregen.records(EVENTS, 7, N)
        b = wiregen.records(EVENTS, 7, N)
        for c in a:
            self.assertEqual(list(a[c]), list(b[c]), c)
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            self.assertEqual(wiregen.write(EVENTS, 7, N, d1, 3),
                             wiregen.write(EVENTS, 7, N, d2, 3))

    def test_other_seed_other_records(self):
        a = wiregen.records(EVENTS, 7, N)["data"]
        b = wiregen.records(EVENTS, 8, N)["data"]
        self.assertNotEqual(list(a), list(b))

    def test_mix_keeps_its_proportions_across_seeds(self):
        for seed in (1, 2, 3, 4):
            reasons = wiregen.records(EVENTS, seed, N)["expected_reason"]
            for fault, per10k in wiregen.MIX:
                p = per10k / 10000
                got = sum(r == fault for r in reasons)
                sigma = (N * p * (1 - p)) ** 0.5
                self.assertLess(abs(got - N * p), 5 * sigma, f"seed {seed} {fault}")

    def test_fault_scale_multiplies_the_mix(self):
        self.assertEqual(set(wiregen.records(EVENTS, 1, N, 0.0)["expected_reason"]), {None})
        reasons = wiregen.records(EVENTS, 1, N, 4.0)["expected_reason"]
        for fault, per10k in wiregen.MIX:
            p = 4 * per10k / 10000
            got = sum(r == fault for r in reasons)
            self.assertLess(abs(got - N * p), 5 * (N * p * (1 - p)) ** 0.5, fault)
        with self.assertRaises(ValueError):
            wiregen.records(EVENTS, 1, N, 10.0)

    def test_expected_verdict_is_what_the_record_holds(self):
        cols = wiregen.records(EVENTS, 3, N)
        for i in range(N):
            want = cols["expected_reason"][i]
            self.assertEqual(verdict(cols["data"][i]), want, f"record {i}")
            tag = cols["expected_tag"][i]
            if want is None:
                self.assertTrue(tag.startswith("branch:" + wiregen.VENDOR + "/s"))
            else:
                self.assertEqual(tag, "skipped" if want == "unregistered schema" else "badmsg")

    def test_sequence_numbers_rise_in_file_order(self):
        with tempfile.TemporaryDirectory() as d:
            counts = wiregen.write(EVENTS, 5, N, d, 4)
            self.assertEqual(sum(counts.values()), N)
            import pyarrow.parquet as pq
            wire = pq.read_table(os.path.join(d, "wire"))
            seqs = wire.column("sequenceNumber").to_pylist()
            self.assertEqual(seqs, sorted(seqs))
            self.assertEqual(len(os.listdir(os.path.join(d, "registry"))),
                             wiregen.NUM_SCHEMAS + 1)


if __name__ == "__main__":
    unittest.main()
