"""Output checks, run after the timed region on what the engine wrote.

Each check returns a list of (op, message): `op` identifies the
operation whose output is wrong (the ingest batch index, the dedup
pass), so failures count against the operations attempted.
"""

import csv
import json
import os
import random

BRUTE_FORCE_DOCS = 300


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def read_csv(path):
    with open(path, newline="") as f:
        return list(csv.reader(f))[1:]


def _nullable(v):
    return v if v != "" else None


def _links(registry):
    """(local_subject_id, identifier_type) -> set of GSIDs."""
    links = {}
    for _center, local_id, id_type, gsid in registry:
        links.setdefault((local_id, id_type), set()).add(gsid)
    return links


def check_ingest(batches, table, registry, seeded):
    """`batches`: the CSV rows of every batch ingested, in order (batch
    0 is the set-up batch). `table`: the merge table read back, rows of
    the batch columns plus global_subject_id. `registry`: the published
    local-id links. `seeded`: consortium_id -> GSID of the seed registry.

    The table must hold each distinct sample id exactly once, with the
    batch's values, and every identifier a row carries must map to one
    GSID in the registry: the row's own (and the seeded one, if any)."""
    fails = []
    where = {}
    for k, rows in enumerate(batches):
        for r in rows:
            where[r[0]] = (k, [_nullable(v) for v in r])
    links = _links(registry)
    seen = set()
    for row in table:
        sid, gsid = row[0], row[-1]
        if sid not in where:
            fails.append((0, "unexpected sample %s in table" % sid))
            continue
        k, expected = where[sid]
        if sid in seen:
            fails.append((k, "sample %s appears more than once" % sid))
        seen.add(sid)
        if row[:-1] != expected:
            fails.append((k, "sample %s reads back as %s, expected %s" % (sid, row[:-1], expected)))
        refs = [(row[1], "consortium_id")] + ([(row[2], "niddk_no")] if row[2] else [])
        for ref in refs:
            gsids = links.get(ref, set())
            if gsids != {gsid}:
                fails.append((k, "sample %s carries %s but %s maps to %s"
                              % (sid, gsid, ref, sorted(gsids))))
        if row[1] in seeded and seeded[row[1]] != gsid:
            fails.append((k, "seeded subject %s moved to %s" % (row[1], gsid)))
    for sid in sorted(set(where) - seen):
        fails.append((where[sid][0], "sample %s missing from table" % sid))
    return fails


def check_readback(batches, readbacks, keys, table, registry, seeded):
    """`readbacks`: per measured cycle, the batch index and the rows its
    keyed read and registry read returned. `keys`: the generated
    read-back keys per batch. Each sample id read back must return its
    row once, with the GSID the registry holds for its consortium_id,
    and a sample id never ingested returns nothing; each consortium_id
    must return only its GSID (the seeded one, or the one its table
    rows carry), and an unknown one nothing."""
    fails = []
    rows = {r[0]: [_nullable(v) for v in r] for b in batches for r in b}
    links = _links(registry)
    table_gsid = {}
    for row in table:
        table_gsid.setdefault(row[1], set()).add(row[-1])
    for rb in readbacks:
        k, want = rb["batch"], keys[rb["batch"]]
        got = {r[0]: r for r in rb["samples"]}
        if len(got) != len(rb["samples"]) or set(got) != {s for s in want["samples"] if s in rows}:
            fails.append((k, "keyed read of %s returned %s"
                          % (want["samples"], sorted(r[0] for r in rb["samples"]))))
        for sid, r in got.items():
            if sid in rows and (r[:-1] != rows[sid]
                                or links.get((r[1], "consortium_id")) != {r[-1]}):
                fails.append((k, "keyed read of %s returned %s" % (sid, r)))
        got_refs, want_refs = {}, {}
        for local_id, gsid in rb["refs"]:
            got_refs.setdefault(local_id, set()).add(gsid)
        for ref in want["refs"]:
            g = {seeded[ref]} if ref in seeded else table_gsid.get(ref)
            if g:
                want_refs[ref] = g
        if got_refs != want_refs:
            fails.append((k, "registry read of %s returned %s, expected %s"
                          % (want["refs"], got_refs, want_refs)))
    return fails


def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def brute_force_pairs(docs, threshold):
    """Exact Jaccard pairs (id_a < id_b) over `docs` {id: text}."""
    sh = {d: shingles(t) for d, t in docs.items()}
    ids = sorted(d for d in sh if sh[d])
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            common = len(sh[a] & sh[b])
            if common and common / (len(sh[a]) + len(sh[b]) - common) >= threshold:
                out.add((a, b))
    return out


def check_dedup(docs, minhash, exact, threshold, seed):
    """MinHash pairs must be a subset of the exact pairs, and the exact
    pairs restricted to a sample of documents (half of them drawn from
    pairs, so pairs are present) must equal a brute-force pass over
    that sample. Returns (failures, recall of minhash vs exact)."""
    fails = []
    extra = minhash - exact
    if extra:
        fails.append((0, "%d minhash pairs not in the exact pairs, e.g. %s"
                      % (len(extra), sorted(extra)[:3])))
    rng = random.Random(seed)
    paired = sorted({d for p in exact for d in p})
    pick = set(rng.sample(paired, min(len(paired), BRUTE_FORCE_DOCS // 2)))
    pick |= set(rng.sample(sorted(docs), min(len(docs), BRUTE_FORCE_DOCS - len(pick))))
    want = brute_force_pairs({d: docs[d] for d in pick}, threshold)
    got = {p for p in exact if p[0] in pick and p[1] in pick}
    if got != want:
        fails.append((0, "exact pairs over %d sampled docs differ from brute force: "
                      "%d missing, %d extra" % (len(pick), len(want - got), len(got - want))))
    recall = len(minhash & exact) / len(exact) if exact else 1.0
    return fails, recall


def run(workload, inputs, out, result, seed):
    """Loads what the run wrote and applies the workload's check.
    Returns (failures, extra properties to report)."""
    if workload == "ingest":
        table = read_jsonl(os.path.join(out, "table.jsonl"))
        registry = read_jsonl(os.path.join(out, "registry.jsonl"))
        n = int(result["counts"]["cycles"])
        batches = [read_csv(os.path.join(inputs, "batch-%03d.csv" % k)) for k in range(n + 1)]
        seeded = {r[1]: r[3] for r in read_csv(os.path.join(inputs, "local_ids.csv"))}
        keys = read_jsonl(os.path.join(inputs, "readback.jsonl"))
        readbacks = read_jsonl(os.path.join(out, "readback.jsonl"))
        return (check_ingest(batches, table, registry, seeded)
                + check_readback(batches, readbacks, keys, table, registry, seeded)), {}
    docs = {d["doc_id"]: d["text"] for d in read_jsonl(os.path.join(inputs, "corpus.jsonl"))}
    pairs = [{tuple(p) for p in read_jsonl(os.path.join(out, f))}
             for f in ("minhash_pairs.jsonl", "exact_pairs.jsonl")]
    fails, recall = check_dedup(docs, pairs[0], pairs[1], result["threshold"], seed)
    return fails, {"recall_vs_exact": recall, "exact_pairs": len(pairs[1])}
