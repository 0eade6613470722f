"""Output checks for the benchmark workloads, run after the timed
region. Each check returns (build_ok, failed_requests, recall):

- assemble: the FASTA contigs must equal Graft's own DuckDB twin of
  q62 (`SparkEntry.oracleSql`); each lookup must return exactly the
  contigs holding the read. Recall: share of the planted genome's
  read adjacencies that end up next to each other in one contig.
- curate: the recipe's audit must equal the q334 twin; each verdict
  request must equal the q329 and q320 twins for its docs. Recall:
  share of the served docs planted as excerpts or copies that the
  quote scrub drops.
- ann_serve: the persisted index must equal the centroids of Graft's
  DuckDB twin of the Lloyd training (q41's oracle, cut after the last
  iteration); every returned cosine must equal the exact fixed-point
  cosine the serve kernel defines, ranks must follow it, and each
  query must get 10 neighbours. Recall: overlap with the exact top 10
  found by brute force.

DuckDB results are cached in the input directory, keyed by the SQL,
so a repeated seed does not pay for its oracle twice.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TOP_K = 10


def oracle(input_dir, table, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    cache = os.path.join(input_dir, f"oracle_{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return [tuple(r) for r in json.load(f)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{input_dir}/{table}.parquet')")
    rows = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(cache + ".tmp", cache)
    return rows


def _lines(path):
    with open(path) as f:
        return f.read().splitlines()


# ---------------------------------------------------------------- assemble

def read_fasta(path):
    """{header: sequence} from the part files of a FASTA directory."""
    contigs, header, seq = {}, None, []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        for line in _lines(part):
            if line.startswith(">"):
                if header is not None:
                    contigs[header] = "".join(seq)
                header, seq = line[1:].strip(), []
            elif line:
                seq.append(line)
    if header is not None:
        contigs[header] = "".join(seq)
    return contigs


def check_assemble(input_dir, truth, out):
    expected = {str(head): consensus
                for head, _, consensus in oracle(input_dir, "documents", out["oracle_sql"])}
    got = read_fasta(out["fasta"])
    build_ok = got == expected and out["contigs"] == len(expected)
    reads = _lines(os.path.join(input_dir, "lookups.txt"))
    failed = 0
    for n, answer in enumerate(out["answers"]):
        read = reads[n % len(reads)]
        if answer != sorted(h for h, c in expected.items() if read in c):
            failed += 1
    pairs = set()
    for consensus in got.values():
        members = consensus.split(" | ")
        pairs.update(zip(members, members[1:]))
    recall = sum(1 for a, b in truth["adjacent"] if (a, b) in pairs) / len(truth["adjacent"])
    return build_ok, failed, recall


# ------------------------------------------------------------------ curate

def check_curate(input_dir, truth, out):
    expected = sorted(list(r) for r in oracle(input_dir, "documents", out["oracle_sql"]))
    build_ok = out["audit"] == expected
    verdict = {r[0]: r for r in oracle(input_dir, "documents", out["verdict_sql"])}
    dsir = {r[0]: r for r in oracle(input_dir, "documents", out["dsir_sql"])}
    batches = _lines(os.path.join(input_dir, "lookups.txt"))
    redundant = set(truth["redundant"])
    failed, caught, planted = 0, 0, 0
    for n, answer in enumerate(out["answers"]):
        ids = sorted(int(i) for i in batches[n % len(batches)].split(","))
        want = [[i, verdict[i][1], verdict[i][2], *dsir[i][1:]] for i in dict.fromkeys(ids)]
        if answer != want:
            failed += 1
        for doc_id, _, is_quote, *_ in answer:
            if doc_id in redundant:
                planted += 1
                caught += bool(is_quote)
    return build_ok, failed, caught / max(1, planted)


# --------------------------------------------------------------- ann_serve

def _vectors(path):
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    return ids, vecs


def fixed_dot(a, b):
    """vec_dot_fixed: sum of floor(a_i * b_i * 1e13) as a long, in the
    same double operations the kernel performs."""
    return np.floor(a * b * 1e13).astype(np.int64).sum(axis=-1)


def exact_cosine(q, v):
    return fixed_dot(q, v).astype(np.float64) / (
        np.sqrt(fixed_dot(q, q).astype(np.float64)) * np.sqrt(fixed_dot(v, v).astype(np.float64)))


def check_ann_serve(input_dir, truth, out):
    index = [[cid, list(ce)] for cid, ce in oracle(input_dir, "embeddings", out["index_sql"])]
    build_ok = out["index"] == index
    ids, vecs = _vectors(os.path.join(input_dir, "embeddings.parquet"))
    row_of = {int(v): i for i, v in enumerate(ids)}
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    queries = {}
    for path in sorted(glob.glob(os.path.join(input_dir, "queries", "batch_*.parquet"))):
        qids, qv = _vectors(path)
        queries.update({int(q): v for q, v in zip(qids, qv)})
    served = {}
    for line in _lines(out["results"])[1:]:
        req, qid, vid, rk, cos = line.split(",")
        served.setdefault((int(req), int(qid)), []).append((int(rk), int(vid), float(cos)))
    failed_requests = set()
    hits, total = 0, 0
    top = {}
    for (req, qid), rows in served.items():
        q = queries[qid]
        rows.sort()
        vids = [vid for _, vid, _ in rows]
        cos = exact_cosine(q, vecs[[row_of[v] for v in vids]])
        ranked = [v for _, v in sorted(zip(-cos, vids))]
        if not (len(rows) == TOP_K and [r for r, _, _ in rows] == list(range(1, TOP_K + 1))
                and all(c == e for (_, _, c), e in zip(rows, cos)) and ranked == vids):
            failed_requests.add(req)
        if qid not in top:
            # exact top 10: shortlist by float cosine, rank by the exact one
            cand = ids[np.argsort(-(unit @ (q / np.linalg.norm(q))))[:8 * TOP_K]]
            ec = exact_cosine(q, vecs[[row_of[int(v)] for v in cand]])
            top[qid] = {int(v) for _, v in sorted(zip(-ec, cand))[:TOP_K]}
        hits += len(top[qid] & set(vids))
        total += TOP_K
    # every query of every request must have been answered
    per_request = {}
    for req, _ in served:
        per_request[req] = per_request.get(req, 0) + 1
    for req in range(out["requests"]):
        if per_request.get(req, 0) != truth["batch_size"]:
            failed_requests.add(req)
    return build_ok, len(failed_requests), hits / max(1, total)


CHECKS = {"assemble": check_assemble, "curate": check_curate, "ann_serve": check_ann_serve}
