"""Seeded input generator.

Derives each workload's input tables from the base fixture in
`perfbench/fixture` (the sf0.01 star schema plus events, documents and
embeddings) and a seed. The seed changes bytes, never row counts, branch
mix or duplicate clusters:
  - every table's rows are shuffled by a seeded permutation;
  - `documents.text` goes through a seeded 26-letter substitution
    (case-preserving), which keeps lengths, token equality and
    near-duplicate clusters;
  - `embeddings.embedding` is multiplied elementwise by a seeded +-1
    pattern, which keeps norms and angles exactly.

Every (workload, seed) pair is written to its own new directory, built
under a temporary name and renamed into place once complete, and never
rewritten: programs that cache artifacts by input path never see a
changed file behind a known path.
"""
import os
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "fixture")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# workload -> the tables whose rows one pass reads
WORKLOADS = {
    "survey_medallion": ["orders", "nation"],
    "query_mix": TABLES,
}


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def letter_table(seed):
    """Case-preserving 26-letter substitution."""
    p = _rng(seed, 101).permutation(26)
    lo = "".join(string.ascii_lowercase[i] for i in p)
    return str.maketrans(string.ascii_lowercase + string.ascii_uppercase,
                         lo + lo.upper())


def sign_pattern(seed, dim):
    return np.where(_rng(seed, 202).integers(0, 2, dim) == 0, 1.0, -1.0).astype(np.float32)


def _perturb(name, t, seed):
    if name == "documents":
        tr = letter_table(seed)
        text = [None if v is None else v.translate(tr) for v in t["text"].to_pylist()]
        i = t.schema.get_field_index("text")
        t = t.set_column(i, t.schema.field(i), pa.array(text, t.schema.field(i).type))
    elif name == "embeddings":
        col = t["embedding"].combine_chunks()
        offsets = col.offsets.to_numpy()
        dim = int(offsets[1] - offsets[0])
        if not np.all(np.diff(offsets) == dim):
            raise ValueError("embeddings must have one fixed dimension")
        flat = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
        flipped = (flat * sign_pattern(seed, dim)).astype(np.float32).ravel()
        i = t.schema.get_field_index("embedding")
        t = t.set_column(i, t.schema.field(i), pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(flipped, pa.float32()), type=col.type))
    return t


def build_table(name, seed):
    t = _perturb(name, pq.read_table(os.path.join(BASE, f"{name}.parquet")), seed)
    return t.take(pa.array(_rng(seed, 7 + TABLES.index(name)).permutation(t.num_rows)))


def inputs(workload, seed, root):
    """Directory holding the inputs of (workload, seed) under `root`,
    generated on first use and never rewritten."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload: {workload}")
    dest = os.path.join(root, workload, f"seed{seed}")
    if not os.path.isdir(dest):
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name in TABLES:
            pq.write_table(build_table(name, seed), os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, dest)
    return dest


def rows_read(workload, input_dir):
    """Generated input rows one pass of `workload` reads."""
    return sum(pq.ParquetFile(os.path.join(input_dir, f"{t}.parquet")).metadata.num_rows
               for t in WORKLOADS[workload])
