"""Seeded input generators for the three workloads.

Every generator draws from `random.Random(seed)` only, so one seed gives
the same inputs on any machine. Each returns the manifest that
`checks.py` compares the program's outputs against.
"""
import hashlib
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

# doc_ingest: the share of each batch that re-delivers a standing id
# with changed text (set, not measured: enough that every batch runs
# the replaced-document probe and rewrites those documents' candidates),
# and the smallest standing state left once the batches' new documents
# are held back from the fixture
REDELIVER_SHARE = 0.1
MIN_STANDING = 100

# the PII patterns of `TextQueries.scrubPii`, applied in its order
PII = [(re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
       (re.compile(r"([0-9]{1,3}\.){3}[0-9]{1,3}"), "<IP>"),
       (re.compile(r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"), "<PHONE>")]


def fixture_docs(data_dir):
    t = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                      columns=["doc_id", "text", "source"]).to_pydict()
    return sorted(zip(t["doc_id"], t["text"], t["source"]))


def gen_query_slice(names, seed, passes, out):
    """One line per timed pass: every query once, in a seeded order."""
    rng = random.Random(seed)
    order = []
    for _ in range(passes):
        p = sorted(names)
        rng.shuffle(p)
        order.append(p)
    with open(os.path.join(out, "order.txt"), "w") as f:
        for p in order:
            f.write(" ".join(p) + "\n")
    return {"order": order}


def scrub(text):
    """The stored text of a delivered document."""
    for pattern, mask in PII:
        text = pattern.sub(mask, text)
    return text


def text_digest(state):
    """SHA-256 of `doc_id\ttext` lines in id order; mirrors the
    digest `DocIngest` takes of the stored corpus."""
    md = hashlib.sha256()
    for d in sorted(state):
        md.update(("%d\t%s\n" % (d, state[d])).encode("utf-8"))
    return md.hexdigest()


def _write_docs(path, rows):
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
    }), path)


def gen_doc_ingest(data_dir, seed, out, batches, batch_size):
    """`seed.parquet` and `batches` delta batches, all real fixture
    documents, as `graft.TimePipeline` delivers them: the standing state
    is the fixture's lowest ids, and the batches deliver the rest as new
    documents in a seeded order. Each batch also re-delivers a seeded
    `REDELIVER_SHARE` of standing ids whose new text is another fixture
    document's. The manifest predicts each batch's corpus size and
    replaced count, the final id set and the digest of the stored text.
    """
    rng = random.Random(seed)
    docs = fixture_docs(data_dir)
    n_re = round(batch_size * REDELIVER_SHARE)
    n_new = batch_size - n_re
    standing = len(docs) - batches * n_new
    if standing < MIN_STANDING:
        raise ValueError("%d batches of %d new documents leave %d of the fixture's %d "
                         "standing, fewer than %d" % (batches, n_new, standing, len(docs),
                                                      MIN_STANDING))
    _write_docs(os.path.join(out, "seed.parquet"), docs[:standing])
    fresh = docs[standing:]
    rng.shuffle(fresh)
    source = {d: src for d, _, src in docs}
    state = {d: text for d, text, _ in docs[:standing]}
    expect = []
    with open(os.path.join(out, "batches.txt"), "w") as listing:
        for b in range(batches):
            rows = fresh[b * n_new:(b + 1) * n_new]
            for d in rng.sample(sorted(state), n_re):
                text = rng.choice([t for _, t, _ in docs if t != state[d]])
                rows.append((d, text, source[d]))
            rng.shuffle(rows)
            name = "batch_%03d.parquet" % b
            _write_docs(os.path.join(out, name), rows)
            listing.write("%s %d\n" % (name, len(rows)))
            state.update((d, text) for d, text, _ in rows)
            expect.append({"corpus_rows": len(state), "replaced": n_re})
    return {"batches": expect, "final_ids": sorted(state),
            "text_digest": text_digest({d: scrub(t) for d, t in state.items()})}


# file_batch: the reference names no traffic mix, so these shares are
# set, not measured. Matching files dominate, with enough of each other
# kind that every branch of discovery, dedup, failure and retry runs on
# dozens of records per pass.
SUFFIXES = [(".dwg", 0.70), (".DWG", 0.15), (".txt", 0.05),
            (".dwg.bak", 0.05), (".dxf", 0.05)]
DUP_SHARE = 0.1  # matching files copied under the same basename elsewhere
FAIL_SHARE = 0.05  # records the `ebind` stage fails
RETRY_SHARE = 0.1  # records whose first `verify` attempt fails
FAIL_MESSAGES = ["Open.Close failed on %s", "RPC server disconnected while binding %s"]


def stage_output(text):
    """The committed text of a record that passes every stage: the
    Python mirror of `FileBatch.stages` (epurge, ebind, verify).
    """
    t = " ".join(w for w in text.split(" ") if w) + " :bound"
    return "%d|%s" % (len(t.split(" ")), t)


def gen_file_batch(data_dir, seed, out, n_files):
    """A tree of `n_files` small files under `out/tree`.

    Suffixes mix `.dwg`, `.DWG` and non-matching ones; a share of the
    matching files is copied under the same basename into a second
    subdirectory. `fail.txt` and `retry.txt` name the records the
    pipeline will fail or retry; the manifest predicts the run metrics
    and the content digest of the committed survivors.
    """
    rng = random.Random(seed)
    texts = [text for _, text, _ in fixture_docs(data_dir)]
    tree = os.path.join(out, "tree")
    subdirs = ["d%02d" % i for i in range(8)] + ["d%02d/e%d" % (i, j)
                                                 for i in range(4) for j in range(2)]
    for d in subdirs:
        os.makedirs(os.path.join(tree, d), exist_ok=True)
    suffixes, weights = zip(*SUFFIXES)
    matched = {}
    for i in range(n_files):
        suf = rng.choices(suffixes, weights)[0]
        name = "dwg_%05d%s" % (i, suf)
        text = rng.choice(texts)
        homes = [rng.choice(subdirs)]
        if suf.lower() == ".dwg" and rng.random() < DUP_SHARE:
            homes.append(rng.choice([d for d in subdirs if d != homes[0]]))
        for d in homes:
            with open(os.path.join(tree, d, name), "w", encoding="utf-8") as f:
                f.write(text)
        if name.lower().endswith(".dwg"):
            matched[name] = text
    names = sorted(matched)
    fail = sorted(rng.sample(names, round(len(names) * FAIL_SHARE)))
    rest = sorted(set(names) - set(fail))
    retry = sorted(rng.sample(rest, round(len(names) * RETRY_SHARE)))
    with open(os.path.join(out, "fail.txt"), "w") as f:
        for n in fail:
            f.write("%s\t%s\n" % (n, rng.choice(FAIL_MESSAGES) % n))
    with open(os.path.join(out, "retry.txt"), "w") as f:
        f.writelines(n + "\n" for n in retry)
    md = hashlib.sha256()
    for row in sorted("%s\t%s" % (n, stage_output(matched[n])) for n in rest):
        md.update((row + "\n").encode("utf-8"))
    return {"files": n_files, "total": len(names), "failed": len(fail),
            "succeeded": len(rest), "retry": len(retry), "digest": md.hexdigest()}
