"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import random
import unittest

import caic_model
import digest
import stats


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(39))))
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (75.0, 30))
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 200))), (90.0, 180))
        self.assertEqual(stats.tail_percentile(list(range(1, 201))), (95.0, 190))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        random.Random(3).shuffle(xs)
        self.assertEqual(stats.tail_percentile(xs), (90.0, 90))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3.0)
        self.assertEqual(stats.union_length([(0, 4), (1, 2), (3, 6)]), 6.0)
        self.assertEqual(stats.union_length([(0, 4), (4, 6)]), 6.0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0.0)

    def test_union_clipped(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4.0)
        self.assertEqual(stats.union_length([(20, 30)], 0, 10), 0.0)

    def test_driver_gap(self):
        # op 0..100; jobs cover 10..40 (two overlapping) and 90..120
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 40), (90, 120)]), 60.0)
        self.assertEqual(stats.driver_gap(0, 100, []), 100.0)
        self.assertEqual(stats.driver_gap(0, 100, [(-10, 200)]), 0.0)


def span(sid, name, start, end, op=0, parent=""):
    return {"id": sid, "name": name, "start": start, "end": end, "op": op, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            span("o1", "op", 0, 100, parent="-"),
            span("b1", "build", 0, 60, parent="o1"),
            span("x1", "execute", 60, 100, parent="o1"),
            # jobs placed by time: j1 in build, j2 in execute
            span("j1", "sched.job", 10, 50),
            span("j2", "sched.job", 70, 90),
            # two overlapping stages of j1: their union is 15..45
            span("s1", "exec.stage", 15, 40, parent="j1"),
            span("s2", "exec.stage", 20, 45, parent="j1"),
            span("c1", "catalyst.analysis", 1, 5),
        ]
        parents = stats.resolve_parents(spans)
        self.assertEqual(parents["j1"], "b1")
        self.assertEqual(parents["j2"], "x1")
        self.assertEqual(parents["c1"], "b1")
        self.assertEqual(parents["o1"], "-")
        got = stats.self_times(spans)
        self.assertEqual(got["op"], 0.0)
        self.assertEqual(got["build"], 60 - 40 - 4)
        self.assertEqual(got["execute"], 40 - 20)
        self.assertEqual(got["sched.job"], (40 - 30) + 20)
        self.assertEqual(got["exec.stage"], 25 + 25)
        self.assertEqual(got["catalyst.analysis"], 4)

    def test_placement_stays_in_the_op(self):
        spans = [span("o1", "op", 0, 10, op=1, parent="-"),
                 span("o2", "op", 10, 20, op=2, parent="-"),
                 span("j5", "sched.job", 11, 12, op=1)]
        self.assertEqual(stats.resolve_parents(spans)["j5"], "-")

    def test_millisecond_slack(self):
        spans = [span("x1", "execute", 10.4, 20.2, parent="-"), span("j1", "sched.job", 10, 20)]
        self.assertEqual(stats.resolve_parents(spans)["j1"], "x1")


class Digest(unittest.TestCase):
    def test_rendering(self):
        self.assertEqual(digest.render(1234.5), "12345e-1")
        self.assertEqual(digest.render(100.0), "1e2")
        self.assertEqual(digest.render(-0.0), "0")
        self.assertEqual(digest.render(0.1 + 0.2), digest.render(0.3))
        self.assertEqual(digest.render(2 ** 60), str(2 ** 60))
        self.assertEqual(digest.render(None), "\\N")
        self.assertEqual(digest.render(float("nan")), "nan")
        # half-even on the exact binary value: 1.00000050000000005 is above the tie
        self.assertEqual(digest.render(1.0000005), "1000001e-6")

    def test_order_insensitive(self):
        rows = [(1, "a", 0.5), (2, "b", 1.25), (3, None, 2.0)]
        a = digest.digest(["k", "s", "v"], rows)
        b = digest.digest(["k", "s", "v"], list(reversed(rows)))
        self.assertEqual(a, b)
        self.assertEqual(a[0], 3)
        # columns are taken in name order, so a permuted projection agrees
        c = digest.digest(["v", "k", "s"], [(v, k, s) for k, s, v in rows])
        self.assertEqual(a, c)
        self.assertNotEqual(a, digest.digest(["k", "s", "v"], rows[:2]))


def area(aid, geometry):
    return {"type": "Feature", "id": aid, "properties": {}, "geometry": geometry}


def forecast(area_id, day, summary=("Remarks",)):
    return {"type": "avalancheforecast", "id": "f", "areaId": area_id, "forecaster": "ab",
            "issueDateTime": "t0", "expiryDateTime": "t1", "isTranslated": False,
            "avalancheSummary": {"days": [{"content": c} for c in summary]},
            "dangerRatings": {"days": [day] if day is not None else []}}


POLY = {"type": "Polygon", "coordinates": [[[0, 0], [1, 0], [0, 1], [0, 0]]]}
MULTI = {"type": "MultiPolygon", "coordinates": [[[[0, 0], [1, 0], [0, 0]]], [[[5, 5], [6, 5], [5, 5]]]]}


class CaicModel(unittest.TestCase):
    def test_worst_rating_and_styles(self):
        areas = {"features": [area(7, POLY)]}
        out = caic_model.expected(areas, [forecast("7", {"alp": "high", "tln": "low", "btl": "moderate"})])
        self.assertEqual(len(out), 1)
        p = out[0]["properties"]
        self.assertEqual((out[0]["id"], p["callsign"], p["fill"], p["stroke"]),
                         ("caic-7", "High", "#ee1d23", "#ee1d23"))
        self.assertEqual(p["metadata"]["ratingAbove"], "high")
        self.assertEqual(p["remarks"], "Remarks")

    def test_unknown_or_missing_rating_wins_and_drops_styles(self):
        areas = {"features": [area("a", POLY)]}
        for day in ({"alp": "bogus", "tln": "low", "btl": "low"}, {"tln": "low", "btl": "low"}):
            p = caic_model.expected(areas, [forecast("a", day)])[0]["properties"]
            self.assertNotIn("callsign", p)
            self.assertNotIn("fill", p)
            self.assertEqual(p["fill-opacity"], 0.5)

    def test_no_rating_floor(self):
        areas = {"features": [area("a", POLY)]}
        day = {"alp": "noRating", "tln": "noRating", "btl": "noRating"}
        p = caic_model.expected(areas, [forecast("a", day)])[0]["properties"]
        self.assertEqual(p["callsign"], "No Rating")

    def test_last_wins_ids_are_strings(self):
        other = {"type": "Polygon", "coordinates": [[[9, 9], [8, 9], [9, 9]]]}
        areas = {"features": [area(7, POLY), area("7", other)]}
        out = caic_model.expected(areas, [forecast("7", {"alp": "low", "tln": "low", "btl": "low"})])
        self.assertEqual(out[0]["geometry"], other)

    def test_multi_explodes_with_part_ids(self):
        areas = {"features": [area("m", MULTI)]}
        out = caic_model.expected(areas, [forecast("m", {"alp": "low", "tln": "low", "btl": "low"})])
        self.assertEqual([f["id"] for f in out], ["caic-m-0", "caic-m-1"])
        self.assertEqual(out[1]["geometry"],
                         {"type": "Polygon", "coordinates": MULTI["coordinates"][1]})

    def test_drops(self):
        areas = {"features": [area("a", POLY)]}
        day = {"alp": "low", "tln": "low", "btl": "low"}
        products = [forecast("orphan", day), forecast("a", None), forecast("a", day, summary=()),
                    {"type": "summaryforecast", "areaId": "a"}]
        self.assertEqual(caic_model.expected(areas, products), [])

    def test_check_compares_as_a_multiset(self):
        areas, products = caic_model.invocation(random.Random(5), 12)
        feats = caic_model.expected(areas, products)
        doc = json.dumps({"type": "FeatureCollection", "features": list(reversed(feats))})
        self.assertIsNone(caic_model.check(areas, products, doc))
        if feats:
            short = json.dumps({"type": "FeatureCollection", "features": feats[1:]})
            self.assertIsNotNone(caic_model.check(areas, products, short))

    def test_generator_is_seeded_and_covers_the_traps(self):
        a = [caic_model.invocation(random.Random(11), 20) for _ in range(2)]
        self.assertEqual(a[0], a[1])
        rng = random.Random(1)
        docs = [caic_model.invocation(rng, n) for n in [10, 30] * 15]
        feats = [f for areas, _ in docs for f in areas["features"]]
        prods = [p for _, ps in docs for p in ps]
        self.assertTrue(all(10 <= len(areas["features"]) for areas, _ in docs))
        self.assertEqual(len({str(f["id"]) for f in docs[1][0]["features"]}), 30)
        self.assertTrue(any(f["geometry"]["type"] == "MultiPolygon" for f in feats))
        self.assertTrue(any(isinstance(f["id"], int) for f in feats))
        self.assertTrue(any(p["type"] != "avalancheforecast" for p in prods))
        self.assertTrue(any(p["areaId"].startswith("orphan") for p in prods))
        fc = [p for p in prods if p["type"] == "avalancheforecast"]
        self.assertTrue(any(not p["dangerRatings"]["days"] for p in fc))
        days = [d for p in fc for d in p["dangerRatings"]["days"]]
        self.assertTrue(any(len(d) < 3 for d in days))
        self.assertTrue(any(v in caic_model.UNKNOWN_RATINGS for d in days for v in d.values()))


if __name__ == "__main__":
    unittest.main()
