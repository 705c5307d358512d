"""A driver-side model of the reference job's transform (task.ts:136-183):
area lookup with last-wins ids, forecast filter, inner join, worst
rating over day 0 with JavaScript `indexOf` semantics, styling, and the
Multi-geometry explode. Output features are compared as a multiset of
canonical JSON texts."""
import json

SEVERITY = ["extreme", "high", "considerable", "moderate", "low", "noRating"]
HUMAN = {"extreme": "Extreme", "high": "High", "considerable": "Considerable",
         "moderate": "Moderate", "low": "Low", "noRating": "No Rating"}
FILLS = {"extreme": "#221e1f", "high": "#ee1d23", "considerable": "#f8931d",
         "moderate": "#fef102", "low": "#4db748", "noRating": "#ffffff"}


def _index_of(v):
    # JS Array.indexOf: -1 for unknown strings and for undefined
    return SEVERITY.index(v) if v in SEVERITY else -1


def _drop_none(d):
    return {k: v for k, v in d.items() if v is not None}


def features(areas_json, products_json):
    areas = {}
    for f in json.loads(areas_json)["features"]:
        areas[str(f["id"])] = f          # Map.set: the last one wins
    out = []
    for p in json.loads(products_json):
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
        idx = min(_index_of("noRating"), _index_of(day.get("btl")),
                  _index_of(day.get("tln")), _index_of(day.get("alp")))
        key = SEVERITY[idx] if idx >= 0 else None
        props = _drop_none({
            "callsign": HUMAN.get(key), "fill": FILLS.get(key), "fill-opacity": 0.5,
            "stroke": FILLS.get(key), "stroke-opacity": 0.75,
            "remarks": summary[0].get("content"),
            "metadata": _drop_none({
                "forecaster": p.get("forecaster"), "issueDateTime": p.get("issueDateTime"),
                "expiryDateTime": p.get("expiryDateTime"), "isTranslated": p.get("isTranslated"),
                "ratingAbove": day.get("alp"), "ratingNear": day.get("tln"), "ratingBelow": day.get("btl")})})
        fid = "caic-" + p["areaId"]
        geom = area["geometry"]
        if geom["type"].startswith("Multi"):
            for i, part in enumerate(geom["coordinates"]):
                out.append({"id": f"{fid}-{i}", "type": "Feature", "properties": props,
                            "geometry": {"type": geom["type"][len("Multi"):], "coordinates": part}})
        else:
            out.append({"id": fid, "type": "Feature", "properties": props, "geometry": geom})
    return canonical(out)


def canonical(feats):
    return sorted(json.dumps(f, sort_keys=True) for f in feats)


def submitted(body):
    doc = json.loads(body)
    if doc.get("type") != "FeatureCollection":
        raise ValueError("not a FeatureCollection")
    return canonical(doc["features"])


def golden_features(rows):
    """Rows (id, type, properties JSON, geometry JSON) of the pinned q37
    golden output, as canonical features."""
    return canonical({"id": i, "type": t, "properties": json.loads(p), "geometry": json.loads(g)}
                     for i, t, p, g in rows)
