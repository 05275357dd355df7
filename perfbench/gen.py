"""Seeded input generator for the benchmark workloads.

Every input the engine receives comes from here: CSV fragment batches,
a seed registry and the keys each cycle reads back (ingest), and a
text corpus with planted near-duplicates (dedup). Sizes and mix shares
are constants; the seed changes only the content, so two seeds give
inputs of the same shape and cost.
"""

import csv
import itertools
import json
import os
import random

CENTERS = list(range(1, 9))
SAMPLE_TYPES = ["Blood", "Serum", "Plasma", "DNA", "RNA", "Stool", "Biopsy"]
BATCH_COLUMNS = ["sample_id", "consortium_id", "niddk_no", "center_id",
                 "sample_type", "collection_month", "volume_ml"]

# ingest
REGISTRY_SUBJECTS = 30000
BATCH_ROWS = 20000
INGEST_BATCHES = 8         # batch 0 warms up in set-up; more than a run consumes
# row mix of one batch, as shares of BATCH_ROWS (new-subject rows take the rest)
LINK_SHARE = 0.60          # link an identifier already in the registry
MISMATCH_SHARE = 0.04      # existing identifier presented by another center
SECOND_ID_SHARE = 0.03     # existing subject that also carries a niddk_no
DUPLICATE_SHARE = 0.03     # content-identical copy of a row of the previous batch
LATE_SHARE = 0.05          # rows collected in the previous month
# keys each cycle reads back after publishing its batch
READBACK_NEW, READBACK_OLD, READBACK_MISS = 4, 2, 2      # sample ids
READBACK_REFS, READBACK_SEEDED, READBACK_REF_MISS = 3, 1, 2  # consortium ids

# dedup
DOCS = 8000
VOCAB = 20000
DOC_LEN = (30, 200)        # tokens, uniform
NEAR_DUP_SHARE = 0.10      # docs that are an edited copy of an earlier doc
EDIT_RATE = (0.0, 0.06)    # share of tokens substituted in a copy, uniform


def _writer(path, header):
    f = open(path, "w", newline="")
    w = csv.writer(f, lineterminator="\n")
    w.writerow(header)
    return f, w


class _Ids:
    """Unique random identifiers of one kind."""

    def __init__(self, rng, fmt, bits):
        self.rng, self.fmt, self.bits, self.seen = rng, fmt, bits, set()

    def new(self):
        while True:
            v = self.fmt.format(self.rng.getrandbits(self.bits))
            if v not in self.seen:
                self.seen.add(v)
                return v


def _month(i):
    return "m%04d" % i


def _registry(rng, out):
    """Seed registry: subjects and their consortium_id links."""
    gsids = _Ids(rng, "GSID-{:016X}", 64)
    cids = _Ids(rng, "IBD{:09d}", 29)
    subjects = []
    f1, sw = _writer(os.path.join(out, "subjects.csv"),
                     ["global_subject_id", "center_id", "created_at"])
    f2, lw = _writer(os.path.join(out, "local_ids.csv"),
                     ["center_id", "local_subject_id", "identifier_type",
                      "global_subject_id"])
    with f1, f2:
        for _ in range(REGISTRY_SUBJECTS):
            g, c, center = gsids.new(), cids.new(), rng.choice(CENTERS)
            sw.writerow([g, center, "2024-01-01"])
            lw.writerow([center, c, "consortium_id", g])
            subjects.append((c, center, g))
    return subjects, cids


def _batch(rng, known, cids, niddks, samples, month, prev):
    """One fragment batch. `known` lists (consortium_id, center) of
    subjects already resolved before this batch; the batch's new
    subjects are appended to it. `prev` holds the previous batch's rows
    (empty for the first batch), which the duplicates re-submit
    unchanged; no sample id occurs twice within a batch. Returns the
    rows in file order."""
    n = BATCH_ROWS
    n_link, n_mis = int(n * LINK_SHARE), int(n * MISMATCH_SHARE)
    n_two = int(n * SECOND_ID_SHARE)
    n_dup = int(n * DUPLICATE_SHARE) if prev else 0
    n_new = n - n_link - n_mis - n_two - n_dup

    def row(cid, niddk, center):
        m = month - 1 if month > 0 and rng.random() < LATE_SHARE else month
        return [samples.new(), cid, niddk, str(center), rng.choice(SAMPLE_TYPES),
                _month(m), "%.1f" % rng.uniform(0.5, 10.0)]

    rows = [row(cid, "", center) for cid, center in rng.sample(known, n_link)]
    picked = rng.sample(known, n_mis + n_two)
    for cid, center in picked[:n_mis]:
        other = rng.choice([c for c in CENTERS if c != center])
        rows.append(row(cid, "", other))
    for cid, center in picked[n_mis:]:
        rows.append(row(cid, niddks.new(), center))
    new = []
    while len(new) < n_new:
        cid, center = cids.new(), rng.choice(CENTERS)
        for _ in range(min(rng.choice([1, 1, 2]), n_new - len(new))):
            new.append(row(cid, "", center))
        known.append((cid, center))
    rows += new
    rows += [list(r) for r in rng.sample(prev, n_dup)]
    rng.shuffle(rows)
    return rows


def _write_batch(path, rows):
    f, w = _writer(path, BATCH_COLUMNS)
    with f:
        w.writerows(rows)


def _batch_props(batches):
    """Mix shares of the batches after the first (the first has no
    previous batch to duplicate)."""
    rows = sum(len(b) for b in batches)
    n = BATCH_ROWS
    shares = {"link_share": LINK_SHARE, "center_mismatch_share": MISMATCH_SHARE,
              "second_id_share": SECOND_ID_SHARE}
    props = {k: int(n * s) / n for k, s in shares.items()}
    seen, dups = set(), 0
    for b in batches:
        ids = {r[0] for r in b}
        dups += len(ids & seen)
        seen |= ids
    props["duplicate_share"] = dups / (rows - len(batches[0]))
    props["new_subject_row_share"] = 1 - sum(props.values())
    props.update(batch_rows=n, batches=len(batches), rows=rows,
                 late_row_share=sum(r[5] != _month(k) for k, b in enumerate(batches)
                                    for r in b) / rows)
    return props


def _readback(rng, k, batches, seeded, samples, cids):
    """Sample ids and consortium ids cycle k reads back: some from its
    own batch, some from earlier ones, some that exist nowhere."""
    own = sorted({r[0] for r in batches[k]})
    older = sorted({r[0] for b in batches[:k] for r in b}) or own
    keys = rng.sample(own, READBACK_NEW) + rng.sample(older, READBACK_OLD)
    keys += [samples.new() for _ in range(READBACK_MISS)]
    refs = rng.sample(sorted({r[1] for r in batches[k]}), READBACK_REFS)
    refs += rng.sample(seeded, READBACK_SEEDED) + [cids.new() for _ in range(READBACK_REF_MISS)]
    return {"batch": k, "samples": keys, "refs": refs}


def gen_ingest(seed, out):
    """Registry, fragment batches and read-back keys. Batch 0 is the
    set-up warm-up batch (month 0); batch k carries month k."""
    rng = random.Random("ingest:%d" % seed)
    subjects, cids = _registry(rng, out)
    known = [(c, center) for c, center, _ in subjects]
    samples = _Ids(rng, "S{:012X}", 48)
    niddks = _Ids(rng, "N{:08d}", 26)
    batches = []
    for k in range(INGEST_BATCHES):
        prev = batches[-1] if batches else []
        batches.append(_batch(rng, known, cids, niddks, samples, k, prev))
        _write_batch(os.path.join(out, "batch-%03d.csv" % k), batches[k])
    seeded = sorted(c for c, _, _ in subjects)
    with open(os.path.join(out, "readback.jsonl"), "w") as f:
        for k in range(INGEST_BATCHES):
            rb = _readback(rng, k, batches, seeded, samples, cids)
            f.write(json.dumps(rb, sort_keys=True) + "\n")
    return {"workload": "ingest", "registry_subjects": REGISTRY_SUBJECTS,
            "input": _batch_props(batches)}


def gen_dedup(seed, out):
    rng = random.Random("dedup:%d" % seed)
    words = _Ids(rng, "w{:07x}", 28)
    vocab = [words.new() for _ in range(VOCAB)]
    # mild skew: the first tokens of the vocabulary are drawn more often
    cum = list(itertools.accumulate(1.0 / (1 + i / 50.0) for i in range(VOCAB)))
    docs, near = [], 0
    for i in range(DOCS):
        if docs and rng.random() < NEAR_DUP_SHARE:
            src = rng.choice(docs)[1].split(" ")
            rate = rng.uniform(*EDIT_RATE)
            toks = [rng.choice(vocab) if rng.random() < rate else t for t in src]
            near += 1
        else:
            toks = rng.choices(vocab, cum_weights=cum, k=rng.randint(*DOC_LEN))
        docs.append(("d%05d" % i, " ".join(toks)))
    with open(os.path.join(out, "corpus.jsonl"), "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    lens = sorted(len(t.split(" ")) for _, t in docs)
    return {"workload": "dedup", "docs": DOCS, "near_dup_share": near / DOCS,
            "doc_tokens_min": lens[0], "doc_tokens_p50": lens[len(lens) // 2],
            "doc_tokens_max": lens[-1], "vocab": VOCAB}


GENERATORS = {"ingest": gen_ingest, "dedup": gen_dedup}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` into `out` (created empty)
    and return the realised input properties, also saved as
    `inputs.json` beside them."""
    os.makedirs(out, exist_ok=True)
    props = GENERATORS[workload](seed, out)
    props["seed"] = seed
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(props, f, sort_keys=True, indent=1)
    return props
