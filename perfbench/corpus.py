"""Seed-keyed benchmark corpora.

Each corpus is ``datagen.generate(sf, seed)`` written as parquet into the
benchmark's own work directory under a name carrying BOTH the scale
factor and the seed, so a run with another ``--seed`` never reads the
inputs of an earlier seed.
"""

from __future__ import annotations

import json
import os
import shutil
import time

FILES = ("transcripts", "golden_triples", "golden_components",
         "golden_edges")


def corpus_dir(root: str, sf: float, seed: int) -> str:
    return os.path.join(root, f"sf{sf:g}-seed{seed}")


def write_corpus(root: str, sf: float, seed: int) -> tuple[str, dict, float]:
    """Generate the (sf, seed) corpus and write it; returns its directory,
    its shape and the generation time in seconds (the write excluded).

    The directory is replaced as a whole: files go to a sibling temp
    directory that is renamed into place after the last write.
    """
    from graphiti_spark import datagen

    t0 = time.perf_counter()
    tables = datagen.generate(sf, seed)
    gen_s = time.perf_counter() - t0
    out = corpus_dir(root, sf, seed)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    kw = dict(index=False, coerce_timestamps="us",
              allow_truncated_timestamps=True)
    for name, pdf in zip(FILES, tables):
        pdf.to_parquet(os.path.join(tmp, f"{name}.parquet"), **kw)
    tr = tables[0]
    shape = {"sf": sf, "seed": seed, "convs": int(tr["conv_id"].nunique()),
             "turns": len(tr)}
    for name, pdf in zip(FILES[1:], tables[1:]):
        shape[name] = len(pdf)
    with open(os.path.join(tmp, "_SHAPE.json"), "w") as f:
        json.dump(shape, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, shape, gen_s
