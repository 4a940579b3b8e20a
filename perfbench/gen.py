"""Seeded input generators for the benchmark workloads.

Every generator writes its files under a directory it is given and
returns the truth the correctness checks compare against. The truth is
computed here, from the generated values, never by the engine.
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import json
import math
import os
import random

# SNOMED tissue classes the json-etl renderer keeps (class -> concept id).
# Copied rather than imported so the truth does not come from the code
# under test.
REGISTRY = {
    "400p-Acinar tissue": "73681006",
    "400p-Dysplastic epithelium": "61313004",
    "400p-Fibrosis": "112674009",
    "400p-Lymph Aggregates": "267190001",
    "400p-Necrosis": "6574001",
    "400p-Nerves": "88545005",
    "400p-Normal ductal epithelium": "27834005",
    "400p-Reactive": "11214006",
    "400p-Stroma": "128752000",
    "400p-Tumor": "108369006",
}
# classes outside the registry: a feature whose dominant class is one
# of these is dropped by the renderer
UNMAPPED = ["400p-Background", "400p-Blood", "400p-Fat"]
SNO = "http://snomed.info/id/"

HIGH_PROB = 0.8  # threshold of the high-probability query
# region of interest of the constant-ROI intersects query; feature
# corners sit on half-integers, so no square ever only touches it
ROI = (500.0, 300.0, 1100.0, 900.0)
VALUES_CLASSES = ("108369006", "128752000")  # Tumor, Stroma
CANVAS = 2000


def _prob(rng: random.Random) -> float:
    # three decimals, away from the query threshold so float32 and
    # float64 readings of the rendered literal agree on the comparison
    while True:
        k = rng.randint(1, 999)
        if not 790 <= k <= 810:
            return k / 1000


def _feature(rng: random.Random):
    """(geojson feature dict, truth dict or None when the renderer drops it)."""
    classes = rng.sample(list(REGISTRY) + UNMAPPED, rng.randint(1, 4))
    probs = []
    while len(probs) < len(classes):
        p = _prob(rng)
        if p not in probs:  # distinct, so the argmax has no tie
            probs.append(p)
    measurements = {f"prob_{c}": p for c, p in zip(classes, probs)}
    empty = rng.random() < 0.03
    x0 = rng.randint(0, CANVAS - 50) + 0.5
    y0 = rng.randint(0, CANVAS - 50) + 0.5
    w, h = rng.randint(8, 40), rng.randint(8, 40)
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    feat = {
        "type": "Feature",
        "geometry": {"type": "Polygon", "coordinates": [] if empty else [ring]},
        "properties": {"measurements": measurements},
    }
    dominant = classes[probs.index(max(probs))]
    if empty or dominant not in REGISTRY:
        return feat, None
    rx0, ry0, rx1, ry1 = ROI
    return feat, {
        "class": REGISTRY[dominant],
        "high": sum(1 for c, p in zip(classes, probs) if c in REGISTRY and p > HIGH_PROB),
        "roi": x0 < rx1 and x0 + w > rx0 and y0 < ry1 and y0 + h > ry0,
    }


def geojson_corpus(out_dir: str, seed: int, n_files: int, n_features: int) -> dict:
    """``n_files`` GeoJSON FeatureCollections of ``n_features`` each.

    Truth: per file the kept-feature count, per class the kept count,
    the high-probability measurement count, the ROI hit count and the
    per-image kept counts."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_file, per_class, per_image = {}, {}, {}
    high = roi = n_in = 0
    for i in range(n_files):
        image_id = f"S{seed % 1000:03d}-{i:04d}"
        name = f"{image_id}.svs.geojson"
        feats, kept = [], 0
        for _ in range(n_features):
            f, t = _feature(rng)
            feats.append(f)
            if t is not None:
                kept += 1
                per_class[t["class"]] = per_class.get(t["class"], 0) + 1
                high += t["high"]
                roi += t["roi"]
        with open(os.path.join(out_dir, name), "w") as fh:
            json.dump({"type": "FeatureCollection", "features": feats}, fh)
        per_file[name[: -len(".geojson")] + ".ttl"] = kept
        if kept:
            per_image[image_id] = kept
        n_in += n_features
    return {
        "records": n_in,
        "per_file": per_file,
        "per_class": per_class,
        "per_image": per_image,
        "high": high,
        "roi": roi,
        "values": sum(per_class.get(c, 0) for c in VALUES_CLASSES),
    }


def patch_tree(base: str, seed: int, n_images: int, n_csvs: int, n_rows: int) -> dict:
    """Segmentation patch CSVs under the 4-level directory layout.

    Truth: output name -> number of rows with a polygon."""
    rng = random.Random(seed)
    per_file, n_in = {}, 0
    for i in range(n_images):
        cancer = ("brca", "luad", "paad")[i % 3]
        image = f"TCGA-{seed % 100:02d}-{i:04d}"
        leaf = os.path.join(
            base,
            f"{cancer}_polygon",
            f"{image}.svs.tar.gz",
            f"{cancer}_polygon",
            f"{image}.svs",
        )
        os.makedirs(leaf, exist_ok=True)
        for j in range(n_csvs):
            x, y = 4000 * j, 4000 * i
            stem = f"{x}_{y}_4000_4000_0.2500_1-features"
            kept = 0
            with open(os.path.join(leaf, stem + ".csv"), "w", newline="") as fh:
                wr = csv.writer(fh)
                wr.writerow(["AreaInPixels", "PhysicalSize", "Polygon"])
                for _ in range(n_rows):
                    if rng.random() < 0.05:
                        wr.writerow([str(rng.randint(10, 400)), "", ""])
                        continue
                    px, py = x + rng.randint(0, 3900), y + rng.randint(0, 3900)
                    pts = [px, py, px + 7, py, px + 7, py + 9, px, py + 9]
                    area = "" if rng.random() < 0.1 else str(rng.randint(10, 400))
                    wr.writerow(
                        [area, f"{rng.randint(1, 999) / 100:.2f}", "[" + ":".join(map(str, pts)) + "]"]
                    )
                    kept += 1
            per_file[f"{image}.svs/{cancer}_{stem}.ttl.gz"] = kept
            n_in += n_rows
    return {"records": n_in, "per_file": per_file}


def mongo_standins(out_dir: str, seed: int, n_analyses: int, n_marks: int, batch: int) -> dict:
    """analysis.parquet / mark.parquet stand-ins with the document schemas.

    Truth: output batch file -> number of renderable marks in it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    analyses, marks, per_file = [], [], {}
    for a in range(n_analyses):
        exec_id, image = f"exec-{seed}-{a}", f"img-{seed}-{a}"
        analyses.append(
            {
                "_id": f"an-{a:04d}",
                "analysis": {
                    "execution_id": exec_id,
                    "algorithm_params": {"image_width": "40000", "image_height": "30000", "case_id": ""},
                },
                "image": {"imageid": image, "subject": "subj", "study": "study", "slide": str(a % 7)},
            }
        )
        good = 0
        for m in range(n_marks):
            bad = rng.random() < 0.04
            x, y = rng.random() * 0.9, rng.random() * 0.9
            ring = [[x, y], [x + 0.01, y], [x + 0.01, y + 0.01], [x, y]]
            marks.append(
                {
                    "_id": f"mark-{a:04d}-{m:07d}",
                    "provenance": {
                        "analysis": {"execution_id": exec_id},
                        "image": {"imageid": image, "slide": str(a % 7)},
                    },
                    "geometries": {
                        "features": [
                            {
                                "geometry": {
                                    "type": "Point" if bad else "Polygon",
                                    "coordinates": [ring],
                                },
                                "properties": {
                                    "footprint": float(rng.randint(10, 900)),
                                    "nucleustype": "a.b.c" if m % 2 else "",
                                },
                            }
                        ]
                    },
                    "userUpdate": {
                        "mark": {"annotation": [{"annotationID": f"{SNO}{rng.randint(1, 99)}"}]}
                    },
                }
            )
            good += not bad
        for b in range(math.ceil(good / batch)):
            per_file[f"{exec_id}/{image}/batch_{b + 1:06d}.ttl.gz"] = min(batch, good - b * batch)
    from pyspark.sql.pandas.types import to_arrow_schema

    from geosparql_etl_spark.schemas import ANALYSIS_DOC, MARK_DOC

    for name, docs, schema in (("analysis", analyses, ANALYSIS_DOC), ("mark", marks, MARK_DOC)):
        pq.write_table(
            pa.Table.from_pylist(docs, schema=to_arrow_schema(schema)),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    return {"records": len(marks), "per_file": per_file}


def ttl_docs(out_dir: str, seed: int, n_docs: int, n_members: int) -> dict:
    """Gzipped TTL documents carrying a slideId and a stale URN hash, plus
    the slide_hashes.json sidecar (a tenth of the slides have no entry).

    Truth: file name -> the URN hash the rewrite must leave in it."""
    rng = random.Random(seed)
    docs_dir = os.path.join(out_dir, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    hashes, expect = [], {}
    for d in range(n_docs):
        slide = str(100000 + seed % 1000 * 100 + d)
        old = hashlib.md5(f"old-{seed}-{d}".encode()).hexdigest()
        new = hashlib.sha256(f"new-{seed}-{d}".encode()).hexdigest()
        if rng.random() < 0.9:
            hashes.append({"slide": slide, "hash": new})
            expect[f"doc_{d:05d}.ttl.gz"] = new
        else:
            expect[f"doc_{d:05d}.ttl.gz"] = old
        members = "".join(
            f' ;\n    geo:hasMember [ hal:markId "m{m}" ; hal:footprint {rng.randint(1, 999)} ]'
            for m in range(n_members)
        )
        text = (
            "@prefix hal: <https://halcyon.is/ns/> .\n"
            "@prefix geo: <http://www.opengis.net/ont/geosparql#> .\n"
            f"<urn:md5:{old}>\n    hal:slideId \"{slide}\""
            f"{members} .\n"
        )
        with gzip.open(os.path.join(docs_dir, f"doc_{d:05d}.ttl.gz"), "wt") as fh:
            fh.write(text)
    with open(os.path.join(out_dir, "slide_hashes.json"), "w") as fh:
        json.dump(hashes, fh)
    return {"records": n_docs, "expect": expect}
