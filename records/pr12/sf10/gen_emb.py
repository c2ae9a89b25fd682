#!/usr/bin/env python3
"""The embeddings table of `tools/gen_sf.py` at a scale, alone: the
generator's rng is first advanced through its documents draw, so the
vectors equal the ones a full `gen_sf.py <out> <scale>` run writes.

Usage: python3 records/pr12/sf10/gen_emb.py <outDir> <scale>
"""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "..", "..", "tools"))
import numpy as np  # noqa: E402
import gen_sf  # noqa: E402

out, scale = sys.argv[1], float(sys.argv[2])
os.makedirs(out, exist_ok=True)
rng = np.random.default_rng(gen_sf.SEED)
gen_sf.gen_documents(out, rng, int(50000 * scale))
gen_sf.write(out, "embeddings", gen_sf.gen_embeddings(rng, int(20000 * scale)))
