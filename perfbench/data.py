"""Seeded inputs. Seed 0 is the source corpus as it is. Any other seed is
a row-order permutation of every table of the source corpus, written under
`.work/data/seed<n>` with the source's schema and one row group per file:
partition contents and K-means initialisation order change, the corpus
statistics do not.

The source corpus is SPARK_GRAFT_SF_DIR, or else the directory graft.Bench
reads by default (taken from its source, so the two never disagree).
"""
import glob
import os
import re
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, ".work", "data")
KEEP_SEEDS = 12


class DataError(Exception):
    pass


def source_dir(root):
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        d = os.environ["SPARK_GRAFT_SF_DIR"]
    else:
        bench = os.path.join(root, "src", "main", "scala", "graft", "Bench.scala")
        try:
            with open(bench) as f:
                m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
        except OSError:
            m = None
        if not m:
            raise DataError("no corpus: set SPARK_GRAFT_SF_DIR")
        d = m.group(1)
    if not os.path.isfile(os.path.join(d, "nation.parquet")):
        raise DataError(f"corpus {d} has no nation.parquet")
    return d


def permute_table(src, dst, rng):
    t = pq.read_table(src)
    t = t.take(rng.permutation(t.num_rows))
    pq.write_table(t, dst, row_group_size=max(1, t.num_rows))


def inputs(root, seed):
    """Directory of the seed's tables (generated once, then reused)."""
    src = source_dir(root)
    if seed == 0:
        return src
    out = os.path.join(DATA, f"seed{seed}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    os.makedirs(DATA, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    for f in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        if not os.path.isfile(f):
            raise DataError(f"{f} is not a single parquet file")
        permute_table(f, os.path.join(tmp, os.path.basename(f)), rng)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _evict(keep=out)
    return out


def _evict(keep):
    """Keep the most recently used seed directories only."""
    dirs = sorted((d for d in glob.glob(os.path.join(DATA, "seed*")) if d != keep),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)
