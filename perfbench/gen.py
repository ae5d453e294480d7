"""Seeded input generators for the benchmark workloads.

Every generator takes a seed, writes its inputs as plain files (parquet via
pyarrow, JSONL as text) and returns the expected answers derived from the
structure it planted. Nothing here imports Spark: the program under test
only ever sees the generated files.

Sizes are fixed per workload (row, image and document counts do not depend
on the seed) so that throughput figures compare across seeds; the seed
moves only which rows carry which planted property.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS = datetime(2024, 1, 1, tzinfo=timezone.utc)
TS_TYPE = pa.timestamp("us", tz="UTC")


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


# ---------------------------------------------------------------------------
# detect_export: object-detection datalake
# ---------------------------------------------------------------------------

DETECT = dict(
    projects=(1, 2),
    sequences=6,  # per project
    frames=24,  # per sequence; also the track end_frame
    width=96,
    height=64,
    extra_annos=4,  # mean annotations per image beyond the first
    zipf_a=1.6,
    zipf_cap=16,
    bad_frac=0.04,
    exclude_frac=0.10,
    tracks_per_seq=3,
    keyframes=4,
)
CATEGORIES = ("car", "person", "bike", "sign", "truck")


def _polygon(rng, cx, cy, r, nv, w, h) -> list[float]:
    ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
    rad = r * rng.uniform(0.6, 1.0, nv)
    xs = np.clip(cx + rad * np.cos(ang), 0, w - 1)
    ys = np.clip(cy + rad * np.sin(ang), 0, h - 1)
    return np.stack([xs, ys], axis=1).reshape(-1).astype(np.float32).tolist()


def gen_detect(seed: int, out_dir: str) -> dict:
    """Images (FIMG bytes), annotations (Zipf-skewed per image, 4-64
    vertex polygons, excluderegion polygons) and keyframe tracks."""
    from ml_pipelines_spark.operators.images import encode_image

    c = DETECT
    rng = np.random.default_rng(seed)
    w, h, n_frames = c["width"], c["height"], c["frames"]
    names, img_proj = [], []
    for p in c["projects"]:
        for s in range(c["sequences"]):
            for f in range(n_frames):
                names.append(f"p{p}_s{s:02d}_f{f:03d}")
                img_proj.append(p)
    n_img = len(names)
    n_bad = int(round(c["bad_frac"] * n_img))
    bad = set(rng.choice(n_img, n_bad, replace=False).tolist())
    base = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    images = {
        "project_id": img_proj,
        "task_id": [10 * p for p in img_proj],
        "job_id": [100 * p + i % 7 for i, p in enumerate(img_proj)],
        "image_name": names,
        "image_bytes": [
            encode_image(np.roll(base, i, axis=1)) for i in range(n_img)
        ],
        "tags": [["badimage"] if i in bad else ["ok"] for i in range(n_img)],
        "ts": [TS] * n_img,
    }

    # Zipf-skewed annotation counts with a fixed total: every image gets
    # one, the rest are spread by permuted Zipf weights. The heaviest
    # ranks share the weight of rank ``zipf_cap``: uncapped, one image
    # holds ~40 % of the extra annotations, and whether it lands in train
    # would swing the export size from seed to seed.
    weights = 1.0 / np.maximum(np.arange(1, n_img + 1), c["zipf_cap"]) \
        ** c["zipf_a"]
    weights = rng.permutation(weights / weights.sum())
    counts = 1 + rng.multinomial(c["extra_annos"] * n_img, weights)
    excl = set(
        rng.choice(n_img, int(round(c["exclude_frac"] * n_img)), replace=False)
        .tolist()
    )
    rows = {k: [] for k in (
        "project_id", "task_id", "job_id", "track_id", "gt_iid",
        "image_name", "category", "gt_attr", "segmentation", "ts",
    )}

    def add(i, category, seg, track_id=-1, attr="{}"):
        rows["project_id"].append(img_proj[i])
        rows["task_id"].append(10 * img_proj[i])
        rows["job_id"].append(100 * img_proj[i] + i % 7)
        rows["track_id"].append(track_id)
        rows["gt_iid"].append(len(rows["gt_iid"]))
        rows["image_name"].append(names[i])
        rows["category"].append(category)
        rows["gt_attr"].append(attr)
        rows["segmentation"].append(seg)
        rows["ts"].append(TS)

    for i in range(n_img):
        for j in range(int(counts[i])):
            if j == 0 and i in excl:
                x0, y0 = rng.uniform(0, w / 2), rng.uniform(0, h / 2)
                x1, y1 = x0 + rng.uniform(4, w / 3), y0 + rng.uniform(4, h / 3)
                add(i, "excluderegion", [x0, y0, x1, y0, x1, y1, x0, y1])
                continue
            nv = int(min(64, 3 + rng.geometric(1 / 6)))
            cx, cy = rng.uniform(8, w - 8), rng.uniform(8, h - 8)
            add(i, CATEGORIES[rng.integers(len(CATEGORIES))],
                _polygon(rng, cx, cy, rng.uniform(3, 12), nv, w, h))

    # Keyframe tracks with variable gaps; ~1/3 end on an "outside"
    # keyframe (no propagation past it), the rest propagate to end_frame.
    expected_frames = 0
    track_id = 0
    n_kf = c["keyframes"]
    for p_idx, _p in enumerate(c["projects"]):
        for s in range(c["sequences"]):
            seq0 = (p_idx * c["sequences"] + s) * n_frames
            for _ in range(c["tracks_per_seq"]):
                gaps = rng.integers(1, 7, size=n_kf - 1)
                f0 = int(rng.integers(0, n_frames - gaps.sum()))
                frames = [f0] + (f0 + np.cumsum(gaps)).tolist()
                outside_last = bool(rng.random() < 1 / 3)
                cx, cy = rng.uniform(16, w - 16), rng.uniform(16, h - 16)
                for k, fr in enumerate(frames):
                    nv = int(rng.integers(4, 13))
                    out = outside_last and k == n_kf - 1
                    add(seq0 + fr, "car",
                        _polygon(rng, cx + 2 * k, cy + k, 8, nv, w, h),
                        track_id=track_id,
                        attr='{"outside": true}' if out else "{}")
                expected_frames += (
                    frames[-1] - f0 + 1 if outside_last else n_frames - f0
                )
                track_id += 1

    img_tbl = pa.table(images, schema=pa.schema([
        ("project_id", pa.int64()), ("task_id", pa.int64()),
        ("job_id", pa.int64()), ("image_name", pa.string()),
        ("image_bytes", pa.binary()), ("tags", pa.list_(pa.string())),
        ("ts", TS_TYPE),
    ]))
    anno_tbl = pa.table(rows, schema=pa.schema([
        ("project_id", pa.int64()), ("task_id", pa.int64()),
        ("job_id", pa.int64()), ("track_id", pa.int64()),
        ("gt_iid", pa.int64()), ("image_name", pa.string()),
        ("category", pa.string()), ("gt_attr", pa.string()),
        ("segmentation", pa.list_(pa.float32())), ("ts", TS_TYPE),
    ]))
    nbytes = _write(img_tbl, os.path.join(out_dir, "images.parquet"))
    nbytes += _write(anno_tbl, os.path.join(out_dir, "annotations.parquet"))
    good = {names[i] for i in range(n_img) if i not in bad}
    good_rows = sum(1 for n in rows["image_name"] if n in good)
    # images whose only annotations are exclusion regions get no YOLO file
    labelled = {n for n, cat in zip(rows["image_name"], rows["category"])
                if cat != "excluderegion"}
    return {
        "input_rows": n_img + len(rows["gt_iid"]),
        "input_bytes": nbytes,
        "projects": list(c["projects"]),
        "end_frame": n_frames,
        "width": w,
        "height": h,
        "bad_images": sorted(names[i] for i in bad),
        "categories": list(CATEGORIES),
        "exclude_only": sorted(set(names) - labelled),
        "good_anno_rows": good_rows,
        "expected_track_frames": expected_frames,
    }


# ---------------------------------------------------------------------------
# corpus_curation: multilingual JSONL corpus + embeddings + eval set
# ---------------------------------------------------------------------------

CORPUS = dict(
    plain=1000,
    low_quality=50,
    exact_dup_copies=80,
    near_clusters=40,  # sizes 2..6
    semantic_clusters=25,  # sizes 2..4, near-identical embeddings only
    contaminated_span=12,
    contaminated_exact=4,
    eval_docs=20,
    corrupt_lines=16,
    dim=32,
    budget_frac=0.7,
)
LANG_WORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "es": ("el", "la", "los", "las", "de", "y", "un", "una", "es", "que"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"),
}
NEAR_DUP_RECALL_FLOOR = 0.9


def _vocab(prefix: str, n: int) -> list[str]:
    # fixed (seed-independent) pseudo-words, 2-4 syllables
    syl = ["ka", "lo", "mi", "ren", "tu", "sa", "vel", "dor", "pi", "nak",
           "ve", "ru", "bo", "tem", "li", "gar"]
    r = np.random.default_rng(12345)
    out = set()
    while len(out) < n:
        out.add(prefix + "".join(r.choice(syl, int(r.integers(2, 5)))))
    return sorted(out)


CONTENT = _vocab("", 600)
EVAL_VOCAB = _vocab("zq", 200)


def _doc(rng, lang: str, n_words: int, vocab=CONTENT) -> list[str]:
    markers = LANG_WORDS[lang]
    words = []
    for _ in range(n_words):
        if rng.random() < 0.3:
            words.append(markers[rng.integers(len(markers))])
        else:
            words.append(vocab[rng.integers(len(vocab))])
    return words


def gen_corpus(seed: int, out_dir: str) -> dict:
    """JSONL corpus with corrupt lines, planted exact duplicates,
    near-duplicate text clusters, embedding-only duplicate clusters and
    benchmark contamination; plus an embeddings table and the eval set."""
    c = CORPUS
    rng = np.random.default_rng(seed + 1)
    langs = list(LANG_WORDS)
    docs = []  # dicts: words, lang, group, role

    def new(words, lang, group=None, role="plain", vec_of=None):
        docs.append(dict(words=words, lang=lang, group=group, role=role,
                         vec_of=vec_of))
        return len(docs) - 1

    def rand_lang():
        return langs[rng.integers(len(langs))]

    plain = []
    for _ in range(c["plain"]):
        lang = rand_lang()
        plain.append(new(_doc(rng, lang, int(rng.integers(50, 90))), lang))
    for _ in range(c["low_quality"]):
        lang = rand_lang()
        toks = [rng.choice(["!!", "??", "..", "#", "$$", "%"]) for _ in range(5)]
        new(toks, lang, role="low")
    # exact duplicates: copies of distinct plain docs, half case-changed
    # (the fingerprint normalizes case)
    src = rng.choice(plain, c["exact_dup_copies"], replace=False)
    for g, i in enumerate(src.tolist()):
        docs[i]["group"] = ("x", g)
        words = docs[i]["words"]
        if g % 2:
            words = [wd.upper() for wd in words]
        new(list(words), docs[i]["lang"], group=("x", g))
    # near-duplicate clusters: a base doc and 1..5 one-word variants
    for g in range(c["near_clusters"]):
        lang = rand_lang()
        base = _doc(rng, lang, int(rng.integers(60, 90)))
        new(base, lang, group=("n", g))
        for _ in range(int(rng.integers(1, 6))):
            v = list(base)
            v[int(rng.integers(len(v)))] = CONTENT[rng.integers(len(CONTENT))]
            new(v, lang, group=("n", g))
    # embedding-only duplicates: unrelated texts, near-identical vectors
    for g in range(c["semantic_clusters"]):
        first = None
        for _ in range(int(rng.integers(2, 5))):
            lang = rand_lang()
            i = new(_doc(rng, lang, int(rng.integers(50, 90))), lang,
                    group=("s", g), vec_of=first)
            first = i if first is None else first
    # eval set (own vocabulary) and the contaminated training docs
    evals = [_doc(rng, "en", 40, EVAL_VOCAB) for _ in range(c["eval_docs"])]
    for _ in range(c["contaminated_span"]):
        lang = rand_lang()
        body = _doc(rng, lang, int(rng.integers(50, 80)))
        ev = evals[rng.integers(len(evals))]
        at = int(rng.integers(0, len(ev) - 10))
        cut = int(rng.integers(0, len(body)))
        new(body[:cut] + ev[at:at + 10] + body[cut:], lang, role="contam")
    for _ in range(c["contaminated_exact"]):
        new(list(evals[rng.integers(len(evals))]), "en", role="contam")

    # ids: a random permutation, so planted copies interleave with plain
    # docs; the survivor of each planted group is its min id
    ids = rng.permutation(len(docs)) + 1
    vecs = rng.standard_normal((len(docs), c["dim"])).astype(np.float32)
    for i, d in enumerate(docs):
        if d["vec_of"] is not None:
            vecs[i] = vecs[d["vec_of"]] + 0.01 * rng.standard_normal(c["dim"])
    groups: dict = {}
    for i, d in enumerate(docs):
        if d["group"] is not None:
            groups.setdefault(d["group"], []).append(int(ids[i]))
    exact_losers, near_losers = [], []
    for g, members in groups.items():
        losers = sorted(members)[1:]
        (exact_losers if g[0] == "x" else near_losers).extend(losers)

    # JSONL with corrupt lines interleaved
    lines = [
        json.dumps({"doc_id": int(ids[i]), "text": " ".join(d["words"]),
                    "source": f"crawl-{int(ids[i]) % 5}"})
        for i, d in enumerate(docs)
    ]
    for k in range(c["corrupt_lines"]):
        bad = ('{"doc_id": %d, "text": "truncated' % (10**6 + k)
               if k % 2 else "<html>not json %d</html>" % k)
        lines.insert(int(rng.integers(len(lines))), bad)
    corpus_path = os.path.join(out_dir, "corpus.jsonl")
    with open(corpus_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    eval_path = os.path.join(out_dir, "eval.jsonl")
    with open(eval_path, "w") as fh:
        for j, ev in enumerate(evals):
            fh.write(json.dumps({"doc_id": 10**7 + j, "text": " ".join(ev),
                                 "source": "eval"}) + "\n")
    emb = pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "shard": pa.array((ids % 4).astype(np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    nbytes = os.path.getsize(corpus_path) + os.path.getsize(eval_path)
    nbytes += _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "input_rows": len(lines) + len(evals),
        "input_bytes": nbytes,
        "corrupt_lines": c["corrupt_lines"],
        "exact_losers": sorted(exact_losers),
        "near_losers": sorted(near_losers),
        "contaminated": sorted(
            int(ids[i]) for i, d in enumerate(docs) if d["role"] == "contam"
        ),
        "recall_floor": NEAR_DUP_RECALL_FLOOR,
        # per-language token budget: a fixed share of an average
        # language's tokens in the corpus table (~70 per plain crawl
        # document, ~45 per earlier-crawl document)
        "token_budget": int(c["budget_frac"] * (
            c["plain"] * 70 + TABLE["initial"] * 45) / len(langs)),
    }


# ---------------------------------------------------------------------------
# corpus snapshot table: earlier crawls' curated docs + scripted changes
# ---------------------------------------------------------------------------

TABLE = dict(
    base=10**8,  # table-only doc ids start here, above every crawl id
    initial=4000,
    iterations=4,  # scripted iterations; a run stops when they run out
    append_rows=300,
    upserts=300,
    upsert_new_frac=0.2,
    recent_frac=0.2,
    deletes=150,
    missing_deletes=20,
    band_frac=0.1,
)
TABLE_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("n_tokens", pa.int64()),
])


def _table_docs(rng, keys: np.ndarray) -> pa.Table:
    # vectorized _doc: one draw per word for the whole batch
    langs = list(LANG_WORDS)
    n = len(keys)
    lang_idx = rng.integers(len(langs), size=n)
    lengths = rng.integers(30, 60, size=n)
    total = int(lengths.sum())
    vocab = np.array(CONTENT)
    words = vocab[rng.integers(len(vocab), size=total)]
    marker = rng.random(total) < 0.3
    word_lang = np.repeat(lang_idx, lengths)
    pick = rng.integers(10, size=total)
    markers = np.array([LANG_WORDS[lg] for lg in langs])
    words = np.where(marker, markers[word_lang, pick], words)
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - m:e]) for e, m in zip(ends, lengths)]
    return pa.table({
        "doc_id": pa.array(keys.astype(np.int64)),
        "text": texts,
        "lang": [langs[j] for j in lang_idx],
        "n_tokens": pa.array(lengths.astype(np.int64)),
    }, schema=TABLE_SCHEMA)


def gen_table(seed: int, out_dir: str) -> dict:
    """The corpus table's initial snapshot (earlier crawls) plus, per
    iteration, an append batch, upserts (biased to recent keys) and
    takedown deletes. Iterations apply to one table in turn; the expected
    counts per iteration are the script replayed on a Python key set.
    Every id here is >= ``base``, so these rows never collide with a
    crawl's curated docs."""
    c = TABLE
    rng = np.random.default_rng(seed + 2)
    base, n0 = c["base"], c["initial"]
    per_it = c["append_rows"] + c["upserts"]
    live = np.zeros(n0 + c["iterations"] * per_it, dtype=bool)
    live[:n0] = True
    nbytes = _write(_table_docs(rng, base + np.arange(n0)),
                    os.path.join(out_dir, "initial.parquet"))
    nxt = n0
    its = []
    for i in range(c["iterations"]):
        start_rows = int(live.sum())
        batch = np.arange(nxt, nxt + c["append_rows"])
        nxt += c["append_rows"]
        live[batch] = True
        nbytes += _write(_table_docs(rng, base + batch),
                         os.path.join(out_dir, f"append_{i}.parquet"))
        n_new = int(c["upserts"] * c["upsert_new_frac"])
        recent_lo = int(nxt * (1 - c["recent_frac"]))
        old = rng.choice(np.arange(recent_lo, nxt), c["upserts"] - n_new,
                         replace=False)
        upd = np.concatenate([old, np.arange(nxt, nxt + n_new)])
        nxt += n_new
        live[upd] = True
        nbytes += _write(_table_docs(rng, base + upd),
                         os.path.join(out_dir, f"upserts_{i}.parquet"))
        dels = rng.choice(np.flatnonzero(live), c["deletes"], replace=False)
        live[dels] = False
        dels = np.concatenate([
            dels, np.arange(10 * nxt, 10 * nxt + c["missing_deletes"])])
        nbytes += _write(
            pa.table({"doc_id": pa.array((base + dels).astype(np.int64))}),
            os.path.join(out_dir, f"deletes_{i}.parquet"))
        width = int(live.sum() * c["band_frac"])
        lo = int(rng.integers(0, nxt - width))
        band = np.flatnonzero(live[lo:lo + width + 1]) + lo
        its.append({
            "start_rows": start_rows,
            "end_rows": int(live.sum()),
            "band": [base + lo, base + lo + width],
            "band_rows": len(band),
            "band_key_sum": int((base + band).sum()),
        })
    return {
        "input_rows": per_it + c["deletes"] + c["missing_deletes"],
        "input_bytes": nbytes,
        "base": base,
        "iterations": its,
    }
