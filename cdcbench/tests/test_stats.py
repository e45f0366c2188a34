"""The benchmark's own checks on synthetic inputs.

Run: python3 -m unittest discover -s cdcbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_leaves_ten_samples_above(self):
        xs = list(range(1, 1001))
        p, v = stats.tail(xs)
        self.assertEqual(p, 99.0)
        self.assertEqual(v, 990)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(stats.tail(list(range(5)))[0], None)


class DueTimeLatency(unittest.TestCase):
    def test_stall_charges_every_event_queued_behind_it(self):
        # one event due every ms; the system stalls from 100 ms to 600 ms
        # and then delivers the queue at once; otherwise 1 ms per event
        t0 = 1_000_000
        dues = [i * 1000 for i in range(1000)]
        recv = [t0 + (600_000 if 100_000 <= d < 600_000 else d + 1000) for d in dues]
        lat = stats.due_latencies_ms(recv, dues, t0)
        self.assertAlmostEqual(max(lat), 500.0)
        self.assertAlmostEqual(stats.median(lat), 1.0)
        # half the stalled events waited 250 ms or more
        self.assertGreaterEqual(sum(1 for x in lat if x >= 250), 250)
        self.assertGreater(stats.quantile(lat, 0.99), 480)


class BacklogGrowth(unittest.TestCase):
    def test_flat_latency_is_sustainable(self):
        dues = list(range(0, 3_000_000, 1000))
        lat = [800 + (i * 37 % 400) for i in range(len(dues))]  # bounded jitter
        self.assertFalse(stats.backlog_grows(dues, lat))

    def test_growing_latency_is_not(self):
        # serving 80% of the offered rate: the queue, and latency, climb
        dues = list(range(0, 3_000_000, 1000))
        lat = [500 + 0.25 * d / 1000 for d in dues]
        self.assertTrue(stats.backlog_grows(dues, lat))

    def test_sustained_takes_highest_passing_rate(self):
        phases = [{"rate": 250, "p99_ms": 900, "grows": False, "missing": 0},
                  {"rate": 1000, "p99_ms": 1500, "grows": False, "missing": 0},
                  {"rate": 2000, "p99_ms": 2500, "grows": True, "missing": 0}]
        self.assertEqual(stats.sustained(phases), 1000)
        phases[1]["missing"] = 1
        self.assertEqual(stats.sustained(phases), 250)
        self.assertEqual(stats.sustained([dict(phases[2])]), 0)


class Ledger(unittest.TestCase):
    def expect(self):
        kept = [["g", json.dumps({"after": {"id": str(i)}, "before": None,
                                  "source": {"table": "t"}}, sort_keys=True,
                                 separators=(",", ":"))] for i in range(3)]
        return {"generated": 6, "unrouted": 2, "dropped_deletes": 1, "kept": kept}

    def test_exact_delivery_reconciles(self):
        e = self.expect()
        got = [tuple(k) for k in e["kept"]]
        led = stats.reconcile(e, got, list(reversed(got)))
        self.assertEqual(led["mismatches"], [])
        self.assertEqual((led["attempted"], led["failed"]), (6, 0))

    def test_bodies_compare_as_parsed_json(self):
        e = self.expect()
        reordered = '{"source":{"table":"t"},"before":null,"after":{"id":"0"}}'
        self.assertEqual(stats.canon_body(reordered), e["kept"][0][1])
        self.assertIsNone(stats.canon_body("not json"))

    def test_missing_extra_and_duplicates_are_listed(self):
        e = self.expect()
        got = [tuple(k) for k in e["kept"]]
        led = stats.reconcile(e, got[:2], got + [got[0]])
        self.assertEqual(led["direct_missing"], 1)
        self.assertEqual(led["drain_extra"], 1)
        self.assertEqual(led["failed"], 2)
        text = "\n".join(led["mismatches"])
        self.assertIn("direct: missing", text)
        self.assertIn("drain: extra", text)
        self.assertIn("generated 6 != unrouted 2 + dropped deletes 1 + kept 2", text)

    def test_wrong_group_is_a_mismatch(self):
        e = self.expect()
        got = [tuple(k) for k in e["kept"]]
        led = stats.reconcile(e, [("h", got[0][1])] + got[1:], got)
        self.assertEqual(led["failed"], 2)  # one missing, one extra


class Encoding(unittest.TestCase):
    def test_java_double_rendering(self):
        for v, s in [(29.27, "29.27"), (5.0, "5.0"), (-999.85, "-999.85"),
                     (1.2345678e7, "1.2345678E7"), (1e-4, "1.0E-4"), (1e7, "1.0E7")]:
            self.assertEqual(gen.java_double_str(v), s)

    def test_civil_dates(self):
        self.assertEqual(gen.civil(0), (1970, 1, 1))
        self.assertEqual(gen.civil(19723), (2024, 1, 1))
        self.assertEqual(gen.civil(19782), (2024, 2, 29))

    def test_rows_event_frames_its_images(self):
        schema = gen.SCHEMAS["customer"]
        img, rendered = gen.image(schema, [7, "Customer#7", 3, 12.5, "BUILDING"])
        self.assertEqual(rendered["c_acctbal"], "12.5")
        body = gen.rows_body(gen.WRITE, "customer", len(schema), [img])
        ev = gen.event(gen.WRITE, body, 123)
        self.assertEqual(int.from_bytes(ev[9:13], "little"), len(ev))
        self.assertEqual(ev[4], gen.WRITE)


if __name__ == "__main__":
    unittest.main()
