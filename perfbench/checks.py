"""Output checks. Each takes what the program produced (the JVM's
result JSON) and what the generator or the recorded digests predict,
and returns one verdict per op plus a list of problems found.

An op whose output check fails counts as failed; `run.py` turns the
verdicts into `failed_ratio` and `correct`.
"""
import decimal
import hashlib
import math
import struct


# ---------------------------------------------------------------- digests

def canon(v):
    """Canonical text of one result value; mirrors `Digest.canon` in
    the Scala code so a DuckDB result and a Spark result of the same
    rows hash equal.
    """
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return _num(float(v))
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < 1e15:
        return str(int(d))
    return "%x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def digest(columns, rows):
    """(row count, hex digest) of a result: columns in name order, rows
    in result order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    md = hashlib.sha256()
    md.update((",".join(columns[i] for i in order) + "\n").encode("utf-8"))
    for r in rows:
        md.update(("\x1f".join(canon(r[i]) for i in order) + "\n").encode("utf-8"))
    return len(rows), md.hexdigest()


# ---------------------------------------------------------------- checks

def query_slice(result, expected):
    """Warm-pass results against the recorded ones: the digest where
    the query has a DuckDB oracle, the row count where it is
    approximate. Every timed op of a query that fails counts as failed.
    """
    problems = []
    got = result["observed"]["queries"]
    if sorted(got) != sorted(expected):
        problems.append("query set differs: missing %s, unexpected %s" % (
            sorted(set(expected) - set(got)), sorted(set(got) - set(expected))))
    bad = set()
    for name, want in expected.items():
        have = got.get(name, {})
        if "error" in have or name not in got:
            problems.append("%s: %s" % (name, have.get("error", "missing")))
            bad.add(name)
        elif have.get("rows") != want["rows"]:
            problems.append("%s: %s rows, expected %s" % (name, have.get("rows"), want["rows"]))
            bad.add(name)
        elif want.get("digest") and have.get("digest") != want["digest"]:
            problems.append("%s: result digest differs" % name)
            bad.add(name)
    verdicts = [[op["ok"] and op["name"] not in bad for op in s["ops"]]
                for s in result["sections"]]
    return verdicts, problems


def doc_ingest(result, manifest):
    """Each batch's report against the generator's prediction; the
    final corpus's ids and stored text against the delivered documents,
    and its candidates against a one-pass batch mine of that corpus.
    A wrong final state fails every op.
    """
    problems = []
    obs = result["observed"]
    final_ok = True
    if obs.get("corpus_ids") != manifest["final_ids"]:
        problems.append("final corpus id set differs from the delivered ids")
        final_ok = False
    if obs.get("text_digest") != manifest["text_digest"]:
        problems.append("stored text differs from the last delivered text")
        final_ok = False
    pairs = {tuple(p) for p in obs.get("pairs", [])}
    mine = {tuple(p) for p in obs.get("batch_mine_pairs", [])}
    if pairs != mine or len(pairs) != len(obs.get("pairs", [])):
        problems.append("stored candidates differ from the batch mine: "
                        "%d stored, %d mined, %d in common" % (
                            len(pairs), len(mine), len(pairs & mine)))
        final_ok = False
    verdicts = []
    for si, s in enumerate(result["sections"]):
        v = []
        for i, op in enumerate(s["ops"]):
            want = manifest["batches"][i]
            got = op.get("obs", {})
            ok = op["ok"] and all(got.get(k) == want[k] for k in want)
            if op["ok"] and not ok:
                problems.append("section %d batch %d: report %s, expected %s" % (
                    si, i, {k: got.get(k) for k in want}, want))
            v.append(ok and final_ok)
        verdicts.append(v)
    return verdicts, problems


def file_batch(result, manifest):
    """Each pass's run metrics, status roll-up and committed rows
    against what the generator predicts by applying the same stages.
    """
    problems = []
    commits = iter(result["observed"].get("commits", []))
    want_metrics = {k: manifest[k] for k in ("total", "succeeded", "failed")}
    verdicts = []
    for s in result["sections"]:
        v = []
        for i, op in enumerate(s["ops"]):
            got = op.get("obs", {})
            c = next(commits, {})
            errs = []
            if {k: got.get(k) for k in want_metrics} != want_metrics:
                errs.append("run metrics %s, expected %s" % (
                    {k: got.get(k) for k in want_metrics}, want_metrics))
            if got.get("committed") != manifest["succeeded"] or c.get("rows") != manifest["succeeded"]:
                errs.append("committed %s / read back %s rows, expected %d" % (
                    got.get("committed"), c.get("rows"), manifest["succeeded"]))
            if c.get("digest") != manifest["digest"]:
                errs.append("committed content digest differs")
            sev = got.get("severity", {})
            if sev.get("green") != manifest["succeeded"] or sev.get("red", 0) != manifest["failed"]:
                errs.append("status roll-up %s" % sev)
            if op["ok"]:
                problems.extend("pass %d: %s" % (i, e) for e in errs)
            v.append(op["ok"] and not errs)
        verdicts.append(v)
    return verdicts, problems
