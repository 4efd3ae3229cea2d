"""Pins the seeded input generator: python3 perfbench/test_gen.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


class SeededPlans(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in gen.WORKLOADS:
            self.assertEqual(gen.dumps(gen.plan(w, 7, 20)), gen.dumps(gen.plan(w, 7, 20)))

    def test_other_seed_other_requests_batches_and_deletes(self):
        a, b = gen.plan("serve_small", 1, 20), gen.plan("serve_small", 2, 20)
        for phase in ("warmup", "client1", "client4"):
            self.assertNotEqual(a[phase], b[phase])
        self.assertNotEqual([w["batch"] for w in a["writes"]],
                            [w["batch"] for w in b["writes"]])
        self.assertNotEqual([w["delete"] for w in a["writes"]],
                            [w["delete"] for w in b["writes"]])

    def test_operation_counts_follow_seconds(self):
        for seconds, (c1, c4, w) in {5: (1, 1, 2), 15: (3, 3, 2), 20: (4, 4, 2), 60: (12, 12, 6)}.items():
            p = gen.plan("serve_small", 1, seconds)
            self.assertEqual(len(p["warmup"]), gen.WARMUP_CYCLES * p["cycle"])
            self.assertEqual(len(p["client1"]), c1 * p["cycle"])
            self.assertEqual(len(p["client4"]), c4 * p["cycle"])
            self.assertEqual(len(p["writes"]), w)
        with self.assertRaises(ValueError):
            gen.plan("serve_small", 1, 1000)

    def test_serve_plan_shape(self):
        p = gen.plan("serve_small", 3, 20)
        for phase in ("warmup", "client1", "client4"):
            for c in range(0, len(p[phase]), p["cycle"]):
                eps = [r["ep"] for r in p[phase][c:c + p["cycle"]]]
                self.assertEqual(eps.count("textsearch_ann"), 4)
                self.assertEqual(eps.count("panel"), 2)
                self.assertEqual(eps.count("feedback"), 2)
                self.assertEqual(eps.count("temporal"), 1)
                self.assertEqual(eps.count("imgsearch"), 1)
        for r in p["warmup"] + p["client1"] + p["client4"]:
            for key in ("q", "id"):
                if key in r:
                    self.assertTrue(0 <= r[key] < gen.N_KEYFRAMES)
            if r["ep"] == "panel":
                self.assertTrue(set(r["terms"]) <= set(gen.VOCAB))

    def test_deletes_hit_live_landed_ids(self):
        p = gen.plan("serve_small", 4, 60)
        landed, dead = set(), set()
        for w in p["writes"]:
            for new_id, src in w["batch"]:
                self.assertTrue(gen.N_KEYFRAMES <= new_id < gen.N_KEYFRAMES + gen.RESERVED_IDS)
                self.assertTrue(0 <= src < gen.N_KEYFRAMES)
                landed.add(new_id)
            self.assertTrue(set(w["delete"]) <= landed - dead)
            dead |= set(w["delete"])

    def test_batch_plan_is_the_fixed_query_list(self):
        self.assertEqual(gen.plan("batch_pipeline", 5, 20)["queries"], gen.BATCH_QUERIES)


if __name__ == "__main__":
    unittest.main()
