"""Seeded input generators for the pipeline benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Documents follow the shape of the engine's test data (random
text over a 30-word vocabulary, five languages, twenty sources).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIFFICULTY = ["Beginner", "Intermediate", "Advanced"]


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def documents(rng, n, dup_frac=0.05):
    """`n` random-word documents; `dup_frac` of them copy an earlier
    document and append the token `dup` (near-duplicates)."""
    texts = _texts(rng, n)
    for i in np.flatnonzero(rng.random(n) < dup_frac):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_dir(seed, n_docs, outdir):
    """Documents only, for `Corpus.materialize`: a base set tiled with
    seeded near-duplicate copies (one appended token per copy)."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    base = documents(rng, n_docs // 2).to_pydict()
    n_base = len(base["doc_id"])
    src = rng.integers(0, n_base, n_docs - n_base)
    texts = base["text"] + [base["text"][s] + f" copy{k % 7}" for k, s in enumerate(src)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": base["lang"] + [base["lang"][s] for s in src],
        "source": base["source"] + [base["source"][s] for s in src],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}), f"{outdir}/documents.parquet")


def ingest_drops(seed, n_drops, per_drop, outdir, exact_frac=0.05, near_frac=0.05):
    """`n_drops` parquet files of `per_drop` (doc_id, text) documents each,
    doc_ids rising across drops. A seeded share of each drop copies an
    earlier document verbatim (exact duplicate) or with one token
    appended (near duplicate), from an earlier drop or earlier in the
    same drop. Returns the ids of the exact duplicates."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    texts = _texts(rng, n_drops * per_drop)
    kind = rng.random(len(texts))
    exact = []
    for i in range(1, len(texts)):
        if kind[i] < exact_frac + near_frac:
            src = int(rng.integers(0, i))
            texts[i] = texts[src] if kind[i] < exact_frac else texts[src] + " dup"
            if kind[i] < exact_frac:
                exact.append(i)
    for d in range(n_drops):
        lo = d * per_drop
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(lo, lo + per_drop, dtype=np.int64)),
            "text": pa.array(texts[lo:lo + per_drop], pa.string())}), f"{outdir}/drop-{d:04d}.parquet")
    return exact


def snapshot(seed, k, n_entities, n_collections=20):
    """API snapshot `k`: (response JSON text, expected flattened rows).

    The optional fields go missing with a seeded mix at the rates of the
    engine's volume fixture (1/2, 1/3, 1/5, 1/7, and 1/11 for both
    partner arrays); each missing field must flatten to the reference's
    default ("N/A", false, or "" for the partner strings)."""
    rng = np.random.default_rng([seed, 4, k])
    miss = rng.random((n_entities, 5)) < np.array([1 / 11, 1 / 2, 1 / 3, 1 / 5, 1 / 7])
    vals = rng.integers(0, 1 << 30, (n_entities, 4))
    per = -(-n_entities // n_collections)
    colls, rows = [], []
    for c in range(n_collections):
        label, cid, ents = f"Coll{k}-{c}", f"c-{k}-{c}", []
        for i in range(c * per, min(n_entities, (c + 1) * per)):
            p17, q13, v, w = int(vals[i, 0] % 17), int(vals[i, 1] % 13), int(vals[i, 2]), int(vals[i, 3])
            e = {"name": f"Course {k}-{i}", "id": f"e{k}-{i}", "slug": f"course-{k}-{i}",
                 "url": f"/learn/course-{k}-{i}", "imageUrl": f"/img/{k}/{i}.jpg"}
            if not miss[i, 0]:
                e["partnerIds"] = [f"p{p17}", f"q{q13}"]
                e["partners"] = [{"name": f"Partner {p17}", "id": f"p{p17}"}]
            if not miss[i, 1]:
                e["difficultyLevel"] = DIFFICULTY[v % 3]
            if not miss[i, 2]:
                e["isPartOfCourseraPlus"] = w % 4 == 0
            if not miss[i, 3]:
                e["courseCount"] = str(v % 30)
            if not miss[i, 4]:
                e["isCostFree"] = "true" if w % 2 == 0 else "false"
            e["productCard"] = {"marketingProductType": "COURSE",
                                "productTypeAttributes": {"isPathwayContent": v % 2 == 1}}
            ents.append(json.dumps(e))
            rows.append((label, cid, e["name"], e["id"], e["slug"], e["url"], e["imageUrl"],
                         "" if miss[i, 0] else f"Partner {p17}",
                         "" if miss[i, 0] else f"p{p17}, q{q13}",
                         e.get("difficultyLevel", "N/A"),
                         "true" if e.get("isPartOfCourseraPlus", False) else "false",
                         e.get("courseCount", "N/A"), e.get("isCostFree", "N/A"),
                         "COURSE", "true" if v % 2 == 1 else "false"))
        colls.append(f'{{"label": "{label}", "id": "{cid}", "entities": [\n' + ",\n".join(ents) + "]}")
    # one JSON document over many lines, as the API response lands
    body = '[{"data": {"DiscoveryCollections": {"queryCollections": [\n' + ",\n".join(colls) + "]}}}]\n"
    return body, rows
