"""Seeded input generators and their generator-known expected results.

Each generator writes the files the program under test reads, plus an
``expected.json`` that the per-pass check compares against. The
expectation is computed here, in plain Python, never by the engine.

Run as a script to generate one input directory::

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes, one home. Passes take ~1.5-3 s each on 4 cores, so a timed
# window holds several of them and the reported median is steady.
SIGNS_PAGES = 8
SIGNS_PER_PAGE = 2_500
DENSE_BASE_DOCS = 2_000
DENSE_REPLICAS = 4
REPLICA_ID_OFFSET = 10_000_000  # as bench.py:build_probe_dir
CHAINS = 400
CHAIN_LEN = 8  # component diameter 7: under the 20-round CC cap
CHAIN_DOC_TOKENS = 60

SIZES = {
    "signs_etl": f"p{SIGNS_PAGES}x{SIGNS_PER_PAGE}",
    "dedup_dense": f"b{DENSE_BASE_DOCS}x{DENSE_REPLICAS}",
    "dedup_chains": f"c{CHAINS}x{CHAIN_LEN}x{CHAIN_DOC_TOKENS}",
}

GEOM_TYPES = ("Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon")
GEOM_WEIGHTS = (0.35, 0.15, 0.1, 0.15, 0.1, 0.15)
MAX_MULTI_MEMBERS = 5

# The dedup semantics the reference below re-implements (operators/dedup.py
# dedup_ngram_jaccard): 3-word shingles, same lang, a shared shingle that is
# not in more than half of the lang's docs, the ±30% n_chars band, and
# Jaccard >= 0.05.
SHINGLE_K = 3
DF_FRAC = 0.5
MIN_JACCARD = 0.05
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
DENSE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed % 2**64)  # numpy takes no negative seeds


def pair_hash(a: str, b: str) -> int:
    """64-bit digest of one output row; summed mod 2**64 it is order-free."""
    return int.from_bytes(hashlib.blake2b(f"{a}\x00{b}".encode(), digest_size=8).digest(), "little")


def multiset_hash(pairs) -> str:
    return str(sum(pair_hash(str(a), str(b)) for a, b in pairs) % 2**64)


# ---------------------------------------------------------------------------
# signs_etl: CoTrip-shaped page files linked by next_offset.
# ---------------------------------------------------------------------------
class _CoordPool:
    """Pre-drawn lon/lat points and point counts, handed out in order:
    one vectorized draw instead of one per geometry."""

    def __init__(self, rng: np.random.Generator, n: int):
        lon = np.round(rng.uniform(-109.0, -102.0, n), 5)
        lat = np.round(rng.uniform(37.0, 41.0, n), 5)
        self.points = np.stack([lon, lat], axis=1).tolist()
        self.counts = rng.integers(2, 6, n).tolist()
        self.i = self.j = 0

    def take(self, n: int) -> list[list[float]]:
        self.i += n
        return self.points[self.i - n:self.i]

    def single(self, kind: str):
        if kind == "Point":
            return self.take(1)[0]
        self.j += 1
        n = self.counts[self.j - 1]
        if kind == "LineString":
            return self.take(n)
        ring = self.take(n + 1)  # at least 3 distinct points, closed
        return [ring + [ring[0]]]


def gen_signs(seed: int, out: str) -> dict:
    rng = _rng(seed)
    kinds = rng.choice(len(GEOM_TYPES), SIGNS_PAGES * SIGNS_PER_PAGE, p=GEOM_WEIGHTS)
    members = rng.integers(0, MAX_MULTI_MEMBERS + 1, len(kinds))
    speeds = rng.integers(25, 76, len(kinds))
    pool = _CoordPool(rng, len(kinds) * 4 * (MAX_MULTI_MEMBERS + 1))
    expected: list[tuple[str, str]] = []
    for page in range(SIGNS_PAGES):
        feats = []
        for i in range(SIGNS_PER_PAGE):
            n = page * SIGNS_PER_PAGE + i
            kind = GEOM_TYPES[kinds[n]]
            sid = f"sign-{seed}-{n}"
            if kind.startswith("Multi"):
                base = kind[len("Multi"):]
                coords = [pool.single(base) for _ in range(members[n])]
                expected += [(f"{sid}-{k}", base) for k in range(members[n])]
            else:
                coords = pool.single(kind)
                expected.append((sid, kind))
            feats.append({
                "id": sid,
                "type": "Feature",
                "properties": {
                    "id": sid,
                    "name": f"sign {n}",
                    "publicName": f"Sign {n}",
                    "nativeId": f"n{n}",
                    "communicationStatus": "OK" if n % 7 else "Error",
                    "displayStatus": "Displaying",
                    "direction": "NESW"[n % 4],
                    "routeName": f"I-{25 + n % 50}",
                    "marker": round(float(n % 400) + 0.5, 1),
                    "speed": int(speeds[n]),
                    "messageText": f"msg {n}",
                    "messagePreview": f"msg {n}",
                    "messageMarkup": f"<p>msg {n}</p>",
                    "submittedBy": "cdot",
                    "lastUpdated": "2026-01-01T00:00:00Z",
                    "activationTime": "2026-01-01T00:00:00Z",
                },
                "geometry": {"type": kind, "coordinates": coords},
            })
        nxt = str((page + 1) * SIGNS_PER_PAGE) if page + 1 < SIGNS_PAGES else "None"
        with open(os.path.join(out, f"page_{page * SIGNS_PER_PAGE}.json"), "w") as fh:
            json.dump({"features": feats, "next_offset": nxt}, fh, separators=(",", ":"))
    return {
        "pages": SIGNS_PAGES,
        "features_in": len(kinds),
        "rows_out": len(expected),
        "hash": multiset_hash(expected),
    }


# ---------------------------------------------------------------------------
# Near-duplicate clustering: documents tables and the exact expected
# components from a plain-Python reference.
# ---------------------------------------------------------------------------
def _shingles(text: str) -> set[str]:
    w = text.split()
    return {" ".join(w[i:i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)}


def _in_band(chars_a: int, chars_b: int) -> bool:
    return int(np.floor(chars_a * 0.7)) <= chars_b <= int(np.ceil(chars_a * 1.3))


def reference_pairs(docs: list[tuple[int, str, str]], symmetric_band: bool = False):
    """Near-dup pairs ``(doc_a, doc_b)``, ``doc_a < doc_b``, of ``docs``
    given as ``(doc_id, lang, text)``.

    ``symmetric_band`` accepts a pair when the length band holds in either
    direction. Every pair of two base documents with two or more replicas
    appears in both id orders, so this gives the replicated corpus's
    base-level edges.
    """
    by_lang: dict[str, list[tuple[int, set[str], int]]] = defaultdict(list)
    for doc_id, lang, text in docs:
        by_lang[lang].append((doc_id, _shingles(text), len(text)))
    pairs = []
    for rows in by_lang.values():
        df = Counter(s for _, sh, _ in rows for s in sh)
        cap = len(rows) * DF_FRAC
        postings: dict[str, list[int]] = defaultdict(list)
        for i, (_, sh, _) in enumerate(rows):
            for s in sh:
                if df[s] <= cap:
                    postings[s].append(i)
        cand = {(i, j) for p in postings.values() for i in p for j in p if i < j}
        for i, j in cand:
            (ida, sa, ca), (idb, sb, cb) = sorted((rows[i], rows[j]), key=lambda r: r[0])
            band = _in_band(ca, cb) or (symmetric_band and _in_band(cb, ca))
            inter = len(sa & sb)
            if band and inter / (len(sa) + len(sb) - inter) >= MIN_JACCARD:
                pairs.append((ida, idb))
    return pairs


def components(nodes, pairs) -> dict[int, int]:
    """Union-find: node -> smallest node id of its component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _write_documents(out: str, doc_id, lang, text) -> None:
    table = pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{d % 5}" for d in doc_id], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))


def _components_expectation(comp: dict[int, int]) -> dict:
    return {
        "docs": len(comp),
        "components": len(set(comp.values())),
        "hash": multiset_hash(comp.items()),
    }


def gen_dense(seed: int, out: str) -> dict:
    """Random docs over a 30-word vocabulary, each replicated
    DENSE_REPLICAS times with ids offset per replica: every base doc is a
    clique, so pairs grow with replicas squared."""
    rng = _rng(seed)
    lens = rng.integers(10, 101, DENSE_BASE_DOCS)
    langs = rng.choice(len(LANGS), DENSE_BASE_DOCS, p=LANG_WEIGHTS)
    base = [
        (i, LANGS[langs[i]], " ".join(DENSE_VOCAB[w] for w in rng.integers(0, len(DENSE_VOCAB), lens[i])))
        for i in range(DENSE_BASE_DOCS)
    ]
    base_comp = components(range(DENSE_BASE_DOCS), reference_pairs(base, symmetric_band=True))
    comp = {
        i + r * REPLICA_ID_OFFSET: c
        for r in range(DENSE_REPLICAS)
        for i, c in base_comp.items()
    }
    rows = [(i + r * REPLICA_ID_OFFSET, lang, text) for r in range(DENSE_REPLICAS) for i, lang, text in base]
    _write_documents(out, [r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows])
    return _components_expectation(comp)


def gen_chains(seed: int, out: str) -> dict:
    """Sliding-window revision chains: doc k of a chain is tokens
    [k*h, k*h + 2h) of the chain's token stream (h = half a doc), so it
    overlaps only its two neighbours and every component is a path.
    Doc ids rise along each chain, so the lowest label starts at one end
    and needs CHAIN_LEN - 1 rounds to reach the other."""
    rng = _rng(seed)
    half = CHAIN_DOC_TOKENS // 2
    vocab = np.array([f"t{i:06d}" for i in range(200_000)])
    doc_id, lang, text, chain_of = [], [], [], {}
    for c in range(CHAINS):
        stream = vocab[rng.integers(0, len(vocab), half * (CHAIN_LEN + 1))]
        chain_lang = LANGS[rng.choice(len(LANGS), p=LANG_WEIGHTS)]
        for k in range(CHAIN_LEN):
            d = k * CHAINS + c
            doc_id.append(d)
            lang.append(chain_lang)
            text.append(" ".join(stream[k * half:k * half + CHAIN_DOC_TOKENS]))
            chain_of[d] = c  # position 0 holds the chain's lowest id, c
    comp = components(doc_id, reference_pairs(list(zip(doc_id, lang, text))))
    if comp != chain_of:
        raise RuntimeError("chain generator produced overlaps outside a chain")
    _write_documents(out, doc_id, lang, text)
    return _components_expectation(comp)


GENERATORS = {"signs_etl": gen_signs, "dedup_dense": gen_dense, "dedup_chains": gen_chains}


def main(argv: list[str]) -> None:
    workload, seed, out = argv[0], int(argv[1]), argv[2]
    os.makedirs(out, exist_ok=True)
    expected = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(expected, fh)


if __name__ == "__main__":
    main(sys.argv[1:])
