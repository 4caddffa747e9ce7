"""Seeded input generator for graft's benchmark.

Writes one workload's inputs for one seed into a cache directory keyed
by seed, together with ``expected.json``: the planted cases and tallies
the benchmark's output checks compare against.  The same (workload,
seed) always yields byte-identical files.  graft only ever sees these
files; nothing about the seed reaches the program.

Properties each workload varies (the knobs are the module-level dicts):

* etl_landing     -- file-size skew (Pareto rows per file), a hot date
                     prefix, the invalid share (bad extension, too small,
                     too large) and the schema-drift share (extra field,
                     type flip).
* curation_corpus -- duplicate density (verbatim re-crawls,
                     near-duplicates), shared boilerplate segments,
                     low-quality docs, eval-set copies, and planted
                     near-duplicate vector clusters.
* index_serve     -- Zipf query-term skew, the share of exact-match
                     queries, intake batch size.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

import json
import os
import random
import sys

ETL = dict(files=120, dates=["2026-09-01", "2026-09-02", "2026-09-03", "2026-09-04"],
           date_weights=[0.55, 0.25, 0.12, 0.08], pareto_alpha=1.2,
           min_rows=3, max_rows=120, invalid_share=0.08, drift_share=0.10,
           expected_bytes=30000, tolerance_pct=99.0)
CURATION = dict(originals=600, sources=8, target_docs=80, recrawl_share=0.08,
                neardup_share=0.05, boilerplate_share=0.15, lowq_share=0.05,
                eval_docs=40, eval_copies=20, vectors=3000, vec_clusters=40,
                cluster_size=3, dim=64)
SERVE = dict(docs=800, exact_docs=60, batches=160, queries_per_batch=8,
             exact_per_batch=2, intake_batches=48, intake_docs=20)

STOPWORDS = ["the", "and", "of", "to", "with", "that", "have", "be", "a"]


def vocabulary(rng, n=1800):
    """Synthetic lower-case words, 3-9 letters, unique, rank-ordered."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(cons) + rng.choice(vows)
                    for _ in range(rng.randint(2, 4)))[: rng.randint(3, 9)]
        if len(w) >= 3 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Zipf(s) sampler over a rank-ordered word list."""

    def __init__(self, rng, words, s=1.1):
        self.rng, self.words = rng, words
        acc, self.cum = 0.0, []
        for r in range(len(words)):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def sample(self, k):
        return self.rng.choices(self.words, cum_weights=self.cum, k=k)


def prose(rng, zipf, n_words):
    """Word sequence with stopwords sprinkled in (passes Gopher-style
    stopword gates)."""
    out = zipf.sample(n_words)
    for i in range(0, n_words, 6):
        out[i] = rng.choice(STOPWORDS[:5])
    return out


def write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def doc_row(doc_id, words, lang, source):
    text = " ".join(words)
    return {"doc_id": doc_id, "text": text, "lang": lang, "source": source,
            "n_chars": len(text)}


# --------------------------------------------------------------------------
def gen_etl(rng, out):
    c = ETL
    land = os.path.join(out, "landing")
    os.makedirs(land)
    lo = c["expected_bytes"] * (1 - c["tolerance_pct"] / 100)
    hi = c["expected_bytes"] * (1 + c["tolerance_pct"] / 100)
    types = ["view", "click", "purchase", "signup", "error"]
    valid, invalid, per_date, files = [], [], {d: 0 for d in c["dates"]}, []
    event_id = 0
    for i in range(c["files"]):
        date = rng.choices(c["dates"], weights=c["date_weights"])[0]
        kind = "ok"
        u = rng.random()
        if u < c["invalid_share"]:
            kind = rng.choice(["ext", "ext", "small", "large"])
        elif u < c["invalid_share"] + c["drift_share"]:
            kind = rng.choice(["extra", "flip"])
        if kind == "small":
            n = 1
        elif kind == "large":
            n = int(hi / 100) + 50
        else:
            n = min(c["max_rows"], int(c["min_rows"] * rng.paretovariate(c["pareto_alpha"])))
        rows = []
        for _ in range(n):
            event_id += 1
            r = {"event_id": event_id,
                 "ts": "%sT%02d:%02d:%02dZ" % (date, rng.randrange(24), rng.randrange(60),
                                               rng.randrange(60)),
                 "user_id": rng.randrange(5000),
                 "event_type": rng.choice(types),
                 "value": round(rng.uniform(0, 500), 2),
                 "props": {"k": rng.randrange(20)},
                 "event_date": date}
            if kind == "extra":
                r["extra_note"] = "drift-%d" % rng.randrange(100)
            elif kind == "flip":
                r["value"] = "%.2f" % r["value"]
                r["user_id"] = "u%d" % r["user_id"]
            rows.append(r)
        ext = rng.choice(["csv", "tmp"]) if kind == "ext" else "ndjson"
        name = "%s/part-%05d.%s" % (date, i, ext)
        os.makedirs(os.path.join(land, date), exist_ok=True)
        path = os.path.join(land, name)
        write_ndjson(path, rows)
        size = os.path.getsize(path)
        if kind == "small":
            assert size < lo, (size, lo)
        elif kind == "large":
            assert size > hi, (size, hi)
        elif not lo <= size <= hi:
            raise AssertionError("valid file out of band: %d" % size)
        entry = {"name": name, "rows": n, "date": date, "kind": kind}
        files.append(entry)
        if kind in ("ext", "small", "large"):
            invalid.append(name)
        else:
            valid.append(name)
            per_date[date] += n
    return {"files": files, "valid": valid, "invalid": invalid,
            "valid_rows": sum(per_date.values()),
            "invalid_rows": sum(f["rows"] for f in files if f["name"] in set(invalid)),
            "per_date_rows": per_date, "expected_bytes": c["expected_bytes"],
            "tolerance_pct": c["tolerance_pct"]}


# --------------------------------------------------------------------------
def gen_curation(rng, out):
    c = CURATION
    zipf = Zipf(rng, vocabulary(rng))
    langs = ["en", "de"]
    sources = ["src%d" % i for i in range(c["sources"])]
    boiler = [zipf.sample(12) for _ in range(3)]
    docs, originals = [], []
    next_id = 0

    def add(words, lang, source):
        nonlocal next_id
        docs.append(doc_row(next_id, words, lang, source))
        next_id += 1
        return docs[-1]

    # originals: src0 (the perplexity target) is kept under the domain
    # quota; the other sources share the rest
    for i in range(c["originals"]):
        source = "src0" if i < c["target_docs"] else rng.choice(sources[1:])
        u = rng.random()
        if u < c["lowq_share"]:
            words = prose(rng, zipf, rng.randint(6, 14))
        else:
            words = prose(rng, zipf, rng.randint(36, 96))
            if rng.random() < c["boilerplate_share"]:
                words = rng.choice(boiler) + words
        originals.append(add(words, rng.choice(langs), source))
    eval_docs = [doc_row(900000 + j, prose(rng, zipf, rng.randint(40, 70)), "en", "eval")
                 for j in range(c["eval_docs"])]
    eval_copies = []
    for e in rng.sample(eval_docs, c["eval_copies"]):
        eval_copies.append(add(e["text"].split(" "), "en", "src0")["doc_id"])
    recrawls = []
    for o in rng.sample(originals, int(c["originals"] * c["recrawl_share"])):
        d = add(o["text"].split(" "), o["lang"], o["source"])
        recrawls.append([d["doc_id"], o["doc_id"]])
    for o in rng.sample(originals, int(c["originals"] * c["neardup_share"])):
        words = o["text"].split(" ")
        for _ in range(3):
            words[rng.randrange(len(words))] = zipf.sample(1)[0]
        add(words, o["lang"], o["source"])
    write_ndjson(os.path.join(out, "docs.ndjson"), docs)
    write_ndjson(os.path.join(out, "eval.ndjson"), eval_docs)

    # vectors: unit-scale Gaussian background plus tight planted clusters
    dim, vecs, clusters = c["dim"], [], []
    for v in range(c["vectors"]):
        vecs.append({"vec_id": v, "embedding": [round(rng.gauss(0, 1), 5) for _ in range(dim)]})
    vid = c["vectors"]
    for base in rng.sample(range(c["vectors"]), c["vec_clusters"]):
        members = [base]
        for _ in range(c["cluster_size"] - 1):
            e = [round(x + rng.gauss(0, 1e-5), 6) for x in vecs[base]["embedding"]]
            vecs.append({"vec_id": vid, "embedding": e})
            members.append(vid)
            vid += 1
        clusters.append(members)
    write_ndjson(os.path.join(out, "vectors.ndjson"), vecs)
    return {"n_docs": len(docs), "recrawls": recrawls, "eval_copies": eval_copies,
            "n_vectors": len(vecs), "vec_clusters": clusters,
            # no src0 doc (the target source, where the eval copies sit)
            # is ever over quota; the other sources are
            "max_per_domain": sum(1 for d in docs if d["source"] == "src0")}


# --------------------------------------------------------------------------
def gen_serve(rng, out):
    c = SERVE
    words = vocabulary(rng)
    zipf = Zipf(rng, words)
    docs, exact = [], []
    for i in range(c["docs"]):
        w = prose(rng, zipf, rng.randint(20, 80))
        if i < c["exact_docs"]:
            # two tokens no other doc carries: the exact-match query for
            # this doc has a lexical answer nothing else can tie
            w += ["qx%dq%d" % (i, j) for j in range(2)]
            exact.append(i)
        docs.append(doc_row(i, w, "en", "src%d" % (i % 4)))
    write_ndjson(os.path.join(out, "docs.ndjson"), docs)
    queries, exact_q = [], {}
    qid = 10 ** 9
    for b in range(c["batches"]):
        for j in range(c["queries_per_batch"]):
            if j < c["exact_per_batch"]:
                src = rng.choice(exact)
                text = docs[src]["text"]
                exact_q[qid] = src
            else:
                text = " ".join(zipf.sample(rng.randint(2, 5)))
            queries.append({"batch": b, "query_id": qid, "text": text})
            qid += 1
    write_ndjson(os.path.join(out, "queries.ndjson"), queries)
    intake, nid = [], c["docs"]
    for b in range(c["intake_batches"]):
        for _ in range(c["intake_docs"]):
            row = doc_row(nid, prose(rng, zipf, rng.randint(20, 80)), "en", "src%d" % (nid % 4))
            row["batch"] = b
            intake.append(row)
            nid += 1
    write_ndjson(os.path.join(out, "intake.ndjson"), intake)
    return {"n_docs": c["docs"], "exact_queries": {str(k): v for k, v in exact_q.items()},
            "batches": c["batches"], "queries_per_batch": c["queries_per_batch"],
            "intake_batches": c["intake_batches"], "intake_docs": c["intake_docs"]}


GENERATORS = {"etl_landing": gen_etl, "curation_corpus": gen_curation,
              "index_serve": gen_serve}


def generate(workload, seed, out):
    """Generate into ``out`` unless a complete copy is already there."""
    done = os.path.join(out, "expected.json")
    if os.path.exists(done):
        return out
    tmp = out + ".partial"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    # string seeds hash identically on every Python (no hash randomization)
    rng = random.Random("%s:%d" % (workload, seed))
    expected = GENERATORS[workload](rng, tmp)
    expected["workload"], expected["seed"] = workload, seed
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py {%s} <seed> <out_dir>" % "|".join(GENERATORS))
    print(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
