"""Seeded, Spark-free input generators for the three workloads.

Everything here is numpy + pyarrow + the standard library, so the program
under test never helps build its own inputs. The same seed gives
byte-identical files; ground truth is written beside the inputs.

* ad events (``ingest_ad_events``): JSON lines in the reference record
  shape, a fixed share malformed (dropped by the parser) or with a missing
  field (kept, with a NULL column). Run as a script, this module is the
  open-loop live generator process (see ``main``).
* corpus (``curate_corpus``): word-salad documents with planted low-quality
  docs, exact-copy groups and near-duplicate clusters at measured Jaccard,
  plus clustered 64-d embeddings, a query set and numpy exact top-10.
* star schema (``analytics_mix``): the catalog's TPC-H-ish tables and the
  ``events`` table, same schemas and value domains as the catalog expects.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import re
import signal
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# ad events
# --------------------------------------------------------------------------

AD_TYPE_NAMES = ("udxyt", "banner", "video", "native", "splash", "reward", "feed", "popup")
#: shares of generated lines that are not JSON (dropped by the parser) and
#: that lack one non-key field (landed with a NULL column)
MALFORMED_SHARE = 0.02
MISSING_FIELD_SHARE = 0.03


def _iso_ms(ms: int) -> str:
    d = dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def ad_event_lines(rng: np.random.Generator, due_ms: np.ndarray) -> tuple[list[str], dict]:
    """One JSON line per due stamp. Returns (lines, counts) where counts
    holds the uuids expected to land and the number of malformed lines."""
    n = len(due_ms)
    kind = rng.random(n)
    ad_type = rng.integers(1000, 1300, n)
    names = rng.integers(0, len(AD_TYPE_NAMES), n)
    drop_field = rng.integers(0, 3, n)
    raw = rng.bytes(16 * n)
    lines, landed, malformed = [], [], 0
    for i in range(n):
        h = raw[16 * i : 16 * i + 16].hex()
        # RFC 4122 version-4 layout
        uid = f"{h[:8]}-{h[8:12]}-4{h[13:16]}-{'89ab'[int(h[16], 16) % 4]}{h[17:20]}-{h[20:]}"
        ms = int(due_ms[i])
        fields = {
            "date": f'"date":"{_iso_ms(ms)}"',
            "ad_type": f'"ad_type":{ad_type[i]}',
            "ad_type_name": f'"ad_type_name":"{AD_TYPE_NAMES[names[i]]}"',
        }
        if kind[i] < MALFORMED_SHARE + MISSING_FIELD_SHARE and kind[i] >= MALFORMED_SHARE:
            del fields[("date", "ad_type", "ad_type_name")[drop_field[i]]]
        line = "{" + ",".join(
            [f'"uuid":"{uid}"', *fields.values(), f'"timestamp":{ms}']) + "}"
        if kind[i] < MALFORMED_SHARE:
            malformed += 1
            # truncated record: not parseable JSON at all
            lines.append(line[: 20 + i % 17])
            continue
        lines.append(line)
        landed.append(uid)
    return lines, {"landed": landed, "malformed": malformed}


def write_atomic(path: str, text: str) -> None:
    """Write under a dot-name (ignored by Spark's file source), then rename."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def stage_backlog(
    out_dir: str, seed: int, now_ms: int, seconds: int, rate: int
) -> dict:
    """Backlog as of a restart after an outage: `seconds` worth of events at
    `rate`/s, due before `now_ms`, one file per second of event time."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    landed, malformed, n = [], 0, 0
    start = now_ms - seconds * 1000
    for s in range(seconds):
        due = start + s * 1000 + np.sort(rng.integers(0, 1000, rate))
        lines, c = ad_event_lines(rng, due)
        write_atomic(os.path.join(out_dir, f"backlog-{s:05d}.json"), "\n".join(lines) + "\n")
        landed += c["landed"]
        malformed += c["malformed"]
        n += len(lines)
    return {"lines": n, "landed": landed, "malformed": malformed}


def run_live(out_dir: str, seed: int, rate: int, tick_s: float, stop_file: str,
             max_seconds: float) -> dict:
    """Open loop: every `tick_s` drop one file holding the events that fell
    due during the tick, each stamped with its due time. The schedule never
    waits on the consumer. Stops at the tick after `stop_file` appears."""
    rng = np.random.default_rng([seed, 2])
    per_tick = max(1, int(round(rate * tick_s)))
    t0 = time.time()
    landed, malformed, n, late_max, k = [], 0, 0, 0.0, 0
    while True:
        tick_end = t0 + (k + 1) * tick_s
        sleep = tick_end - time.time()
        if sleep > 0:
            time.sleep(sleep)
        late_max = max(late_max, time.time() - tick_end)
        lo = int((t0 + k * tick_s) * 1000)
        due = lo + np.sort(rng.integers(0, int(tick_s * 1000), per_tick))
        lines, c = ad_event_lines(rng, due)
        write_atomic(os.path.join(out_dir, f"live-{k:06d}.json"), "\n".join(lines) + "\n")
        landed += c["landed"]
        malformed += c["malformed"]
        n += len(lines)
        k += 1
        if os.path.exists(stop_file) or time.time() - t0 > max_seconds:
            break
    return {"lines": n, "landed": landed, "malformed": malformed,
            "late_ms_max": late_max * 1000.0}


# --------------------------------------------------------------------------
# corpus + embeddings
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
TOKEN_RE = re.compile("[a-zA-Z0-9]+")
LANGS = ("en", "es", "fr", "de", "zh")
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), k)))
    return sorted(words)


def shingles(text: str) -> set[str]:
    """Distinct word 3-grams over the engine's token definition."""
    t = TOKEN_RE.findall(text)
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / max(1, len(sa | sb))


def corpus(seed: int, n_base: int) -> tuple[dict, dict]:
    """Columns of a (doc_id, text, lang, source) corpus plus ground truth.

    Planted on top of `n_base` random documents:
      * low-quality docs (too short, or one word repeated) — never kept;
      * exact-copy groups of 2-4 members (whitespace variants of one text);
      * near-duplicate clusters: a base doc plus 1-3 edited variants, each
        at a target word-3-gram Jaccard in [0.72, 0.95] to its base.
    doc_ids are a seeded permutation, so planted groups are not contiguous."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()

    def doc(n_tok: int) -> list[str]:
        words = [vocab[j] for j in rng.choice(len(vocab), n_tok, p=weights)]
        for p in np.nonzero(rng.random(n_tok) < 0.15)[0]:
            words[p] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        return words

    texts: list[str] = []
    kinds: list[str] = []
    for _ in range(n_base):
        texts.append(" ".join(doc(int(rng.integers(60, 240)))))
        kinds.append("base")
    low_quality = []
    for i in range(n_base // 50):
        if i % 2:
            t = " ".join(doc(int(rng.integers(3, 9))))
        else:
            t = " ".join([vocab[int(rng.integers(0, len(vocab)))]] * int(rng.integers(40, 120)))
        low_quality.append(len(texts))
        texts.append(t)
        kinds.append("low_quality")
    exact_groups = []
    for _ in range(n_base // 40):
        src = " ".join(doc(int(rng.integers(60, 240))))
        members = []
        for j in range(int(rng.integers(2, 5))):
            members.append(len(texts))
            # whitespace variants: same fingerprint after trim, same tokens
            texts.append(src if j == 0 else " " * j + src + " " * (j % 2))
            kinds.append("exact")
        exact_groups.append(members)
    near_clusters = []
    for _ in range(n_base // 20):
        base = doc(int(rng.integers(100, 240)))
        base_text = " ".join(base)
        members = [len(texts)]
        texts.append(base_text)
        kinds.append("near")
        jac = []
        for _ in range(int(rng.integers(1, 4))):
            target = float(rng.uniform(0.72, 0.95))
            s = len(base) - 2
            m = max(1, int(round(s * (1 - target) / (3 * (1 + target)))))
            var = list(base)
            for p in rng.choice(len(var), m, replace=False):
                var[p] = vocab[int(rng.integers(0, len(vocab)))]
            vt = " ".join(var)
            members.append(len(texts))
            texts.append(vt)
            kinds.append("near")
            jac.append(round(jaccard(base_text, vt), 4))
        near_clusters.append({"members": members, "jaccard": jac})

    n = len(texts)
    ids = rng.permutation(n).astype(np.int64)
    cols = {
        "doc_id": ids,
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
    }

    def remap(idx: list[int]) -> list[int]:
        return [int(ids[i]) for i in idx]

    truth = {
        "n_docs": n,
        "low_quality": remap(low_quality),
        "exact_groups": [remap(g) for g in exact_groups],
        "near_clusters": [
            {"members": remap(c["members"]), "jaccard": c["jaccard"]} for c in near_clusters
        ],
    }
    return cols, truth


EMB_DIM = 64


def embeddings(seed: int, n_vec: int, n_queries: int, k: int = 10) -> tuple[dict, dict, dict]:
    """Clustered unit-scale vectors (32 centers + noise), a query set drawn
    the same way, and the numpy exact cosine top-k of every query."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(32, EMB_DIM))

    def draw(n: int) -> np.ndarray:
        c = rng.integers(0, len(centers), n)
        return (centers[c] + rng.normal(scale=0.6, size=(n, EMB_DIM))).astype(np.float32)

    corpus_v, query_v = draw(n_vec), draw(n_queries)
    cn = corpus_v.astype(np.float64)
    cn /= np.linalg.norm(cn, axis=1, keepdims=True)
    qn = query_v.astype(np.float64)
    qn /= np.linalg.norm(qn, axis=1, keepdims=True)
    top = np.argsort(-(qn @ cn.T), axis=1, kind="stable")[:, :k]
    q_ids = np.arange(n_queries, dtype=np.int64) + 10_000_000
    truth = {str(int(q_ids[i])): [int(j) for j in top[i]] for i in range(n_queries)}
    return (
        {"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": corpus_v},
        {"vec_id": q_ids, "embedding": query_v},
        truth,
    )


# --------------------------------------------------------------------------
# star schema + events (the catalog's tables)
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "old", "large", "hot", "cold", "small", "new", "red")
PART_NOUN = ("bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 5])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def pick(vals, n):
        return [vals[j] for j in rng.integers(0, len(vals), n)]

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    return tables


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_mix_inputs(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The star schema plus five-row `documents` / `embeddings` tables, so
    the directory has every table the engine's loaders and oracle expect."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_schema(seed, sf)
    cols, _ = corpus(seed, 5)
    tables["documents"] = pa.table({
        **{k: cols[k][:5] for k in ("doc_id", "text", "lang", "source")},
        "n_chars": pa.array([len(t) for t in cols["text"][:5]], pa.int64()),
    })
    vecs, _, _ = embeddings(seed, 5, 1)
    tables["embeddings"] = pa.table({
        "vec_id": vecs["vec_id"],
        "embedding": pa.array(list(vecs["embedding"]), pa.list_(pa.float32())),
        "label": pa.array([0] * 5, pa.int32()),
    })
    rows = {}
    for name, t in tables.items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def write_curate_inputs(out_dir: str, seed: int, n_base: int, n_vec: int,
                        n_queries: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    cols, truth = corpus(seed, n_base)
    write_table(pa.table(cols), os.path.join(out_dir, "corpus.parquet"))
    vecs, queries, top10 = embeddings(seed, n_vec, n_queries)
    emb_t = pa.list_(pa.float32())
    for name, c in (("embeddings", vecs), ("queries", queries)):
        write_table(
            pa.table({"vec_id": c["vec_id"],
                      "embedding": pa.array(list(c["embedding"]), emb_t)}),
            os.path.join(out_dir, f"{name}.parquet"),
        )
    truth["top10"] = top10
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main(argv: list[str] | None = None) -> int:
    """Live generator process: ``python3 gen.py --dir D --seed N --rate R
    --tick T --stop-file F --summary S``. Writes its summary JSON (landed
    uuids, malformed count, how late it ran) to `--summary`."""
    p = argparse.ArgumentParser()
    p.add_argument("--dir", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=int, required=True)
    p.add_argument("--tick", type=float, required=True)
    p.add_argument("--stop-file", required=True)
    p.add_argument("--summary", required=True)
    p.add_argument("--max-seconds", type=float, default=120.0)
    a = p.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    out = run_live(a.dir, a.seed, a.rate, a.tick, a.stop_file, a.max_seconds)
    write_atomic(a.summary, json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
