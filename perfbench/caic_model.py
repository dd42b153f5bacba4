"""Seeded CAIC documents and an independent model of the reference job.

`invocation(rng, n)` makes one pair of documents as the CAIC API serves them:
an areas FeatureCollection and a products array. `expected(areas, products)`
computes the FeatureCollection features the reference `task.ts` submits
for them. The model is a port of the JS-semantics model in
`CaicPropertySpec` (worst rating = min of `indexOf` over the day-0 bands
seeded with `noRating`, unknown or missing ratings give -1 and win; multi
geometries explode into `-idx` parts), extended to the whole job: last-wins
area ids keyed by `String(id)`, the forecast type filter, the empty-days
drop, the inner join on `areaId`, and the styled properties.
"""
import json

SEVERITY = ["extreme", "high", "considerable", "moderate", "low", "noRating"]
HUMAN = {"extreme": "Extreme", "high": "High", "considerable": "Considerable",
         "moderate": "Moderate", "low": "Low", "noRating": "No Rating"}
FILLS = {"extreme": "#221e1f", "high": "#ee1d23", "considerable": "#f8931d",
         "moderate": "#fef102", "low": "#4db748", "noRating": "#ffffff"}
UNKNOWN_RATINGS = ["bogus", "EXTREME", "", "mod", "no_rating"]
OTHER_PRODUCTS = ["regionaldiscussionforecast", "summaryforecast", "specialproduct"]
BANDS = ("alp", "tln", "btl")


# ------------------------------------------------------------------ inputs

def _ring(rng):
    x, y = rng.uniform(-109.0, -102.5), rng.uniform(37.0, 41.0)
    d = rng.uniform(0.05, 0.4)
    pts = [[x, y], [x + d, y], [x + d, y + d], [x, y + d], [x, y]]
    return [[round(px, 4), round(py, 4)] for px, py in pts]


def _geometry(rng):
    if rng.random() < 0.4:
        return {"type": "MultiPolygon",
                "coordinates": [[_ring(rng)] for _ in range(rng.randint(1, 3))]}
    return {"type": "Polygon", "coordinates": [_ring(rng)]}


def _rating(rng):
    r = rng.random()
    if r < 0.8:
        return rng.choice(SEVERITY)
    if r < 0.93:
        return rng.choice(UNKNOWN_RATINGS)
    return None  # band missing from the document


def _forecast(rng, area_id, k):
    days = []
    for _ in range(0 if rng.random() < 0.08 else rng.randint(1, 3)):
        day = {}
        for band in BANDS:
            r = _rating(rng)
            if r is not None:
                day[band] = r
        days.append(day)
    summary = [{"date": f"2026-02-0{d + 1}", "content": f"Summary {k}-{d}"}
               for d in range(0 if rng.random() < 0.05 else rng.randint(1, 2))]
    return {
        "type": "avalancheforecast",
        "id": f"fc-{k}",
        "title": f"Forecast {k}",
        "publicName": f"Zone {area_id}",
        "polygons": [area_id],
        "areaId": area_id,
        "forecaster": rng.choice(["ab", "cd", "ef", "gh"]),
        "issueDateTime": "2026-02-01T14:00:00Z",
        "expiryDateTime": "2026-02-02T14:00:00Z",
        "isTranslated": rng.random() < 0.3,
        "weatherSummary": {"days": [{"content": "cold"}]},
        "avalancheSummary": {"days": summary},
        "dangerRatings": {"days": days},
    }


def invocation(rng, n):
    """One (areas, products) document pair with `n` areas mixing Polygon and
    MultiPolygon, numeric and string ids, duplicate ids (one of them a
    numeric id repeated as a string), forecasts with unknown or missing
    ratings and empty days, orphan `areaId`s and non-forecast products."""
    ids = [100 + i if rng.random() < 0.4 else f"zone-{i:02d}" for i in range(n)]
    features = [{"type": "Feature", "id": i, "properties": {"name": f"area {i}"},
                 "geometry": _geometry(rng)} for i in ids]
    for i in rng.sample(ids, rng.randint(1, 3)):
        dup = str(i) if isinstance(i, int) else i
        features.append({"type": "Feature", "id": dup, "properties": {"name": "redrawn"},
                         "geometry": _geometry(rng)})
    products = []
    k = 0
    for i in ids:
        for _ in range(rng.choice([0, 1, 1, 1, 2])):
            products.append(_forecast(rng, str(i), k))
            k += 1
    for j in range(rng.randint(1, 4)):
        products.append(_forecast(rng, f"orphan-{j}", k))
        k += 1
    for j in range(rng.randint(1, 4)):
        products.append({"type": rng.choice(OTHER_PRODUCTS), "id": f"other-{j}",
                         "areaId": str(rng.choice(ids)), "title": "not a forecast"})
    rng.shuffle(products)
    return ({"type": "FeatureCollection", "features": features}, products)


# ------------------------------------------------------------------- model

def js_string(v):
    """`String(id)` for the ids the documents carry: integers and strings."""
    return str(v)


def js_index(rating):
    """`severity.indexOf(rating)`: -1 for unknown strings and `undefined`."""
    return SEVERITY.index(rating) if rating in SEVERITY else -1


def worst(day):
    return min([SEVERITY.index("noRating")] + [js_index(day.get(b)) for b in ("btl", "tln", "alp")])


def expected(areas_doc, products):
    """The features `task.ts` submits for one document pair."""
    areas = {}
    for f in areas_doc["features"]:
        areas[js_string(f["id"])] = f  # Map.set: the last occurrence wins
    out = []
    for p in products:
        if p.get("type") != "avalancheforecast":
            continue
        summary = (p.get("avalancheSummary") or {}).get("days") or []
        ratings = (p.get("dangerRatings") or {}).get("days") or []
        if not summary or not ratings:
            continue
        area = areas.get(p.get("areaId"))
        if area is None:
            continue
        day = ratings[0]
        idx = worst(day)
        key = SEVERITY[idx] if idx >= 0 else None
        props = {"fill-opacity": 0.5, "stroke-opacity": 0.75}
        if key is not None:
            props.update(callsign=HUMAN[key], fill=FILLS[key], stroke=FILLS[key])
        if summary[0].get("content") is not None:
            props["remarks"] = summary[0]["content"]
        meta = {k: p[k] for k in ("forecaster", "issueDateTime", "expiryDateTime", "isTranslated")
                if p.get(k) is not None}
        for name, band in (("ratingAbove", "alp"), ("ratingNear", "tln"), ("ratingBelow", "btl")):
            if day.get(band) is not None:
                meta[name] = day[band]
        props["metadata"] = meta
        fid = "caic-" + p["areaId"]
        geom = area["geometry"]
        if geom["type"].startswith("Multi"):
            base = geom["type"].replace("Multi", "", 1)
            for i, part in enumerate(geom["coordinates"]):
                out.append({"id": f"{fid}-{i}", "type": "Feature", "properties": props,
                            "geometry": {"type": base, "coordinates": part}})
        else:
            out.append({"id": fid, "type": "Feature", "properties": props, "geometry": geom})
    return out


def canonical(features):
    """Features as a sorted list of key-sorted JSON strings: a
    FeatureCollection is compared as a multiset of features."""
    return sorted(json.dumps(f, sort_keys=True) for f in features)


def check(areas_doc, products, submitted_text):
    """None when the submitted document matches the model, else a reason."""
    doc = json.loads(submitted_text)
    if doc.get("type") != "FeatureCollection":
        return "not a FeatureCollection"
    got, want = canonical(doc["features"]), canonical(expected(areas_doc, products))
    if got == want:
        return None
    if len(got) != len(want):
        return f"{len(got)} features, model has {len(want)}"
    diff = next(i for i, (g, w) in enumerate(zip(got, want)) if g != w)
    return f"feature differs: got {got[diff][:160]} want {want[diff][:160]}"
