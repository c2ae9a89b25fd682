"""Seeded input generation for the benchmark workloads.

Everything the engine sees is produced here from the run's seed: a code
tree of .py/.js/.md files (plus the ingest batches that modify it) and the
documents/embeddings tables, the latter through `tools/gen_sf.py`'s own
generators, imported unchanged. `gen_sf.gen_documents` draws its vocabulary
from `<SF01>/documents.parquet`; the benchmark points `SF01` at a seeded
vocabulary table it writes first, so no outside test data is read.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen_sf  # noqa: E402

SYLLABLES = ("ka ri to mu sen da lo vi pe ra no shi ku te ma zo "
             "fi lu gra ble tor van quo mex dri pol").split()


def vocabulary(rng, n):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(SYLLABLES[int(i)] for i in rng.integers(0, len(SYLLABLES), k)))
    return sorted(words)


def _phrase(rng, vocab, lo, hi):
    return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(lo, hi))))


def _ident(rng, vocab):
    return "_".join(vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(1, 3))))


def py_file(rng, vocab):
    out = [f"import {_ident(rng, vocab)}", f"from {_ident(rng, vocab)} import {_ident(rng, vocab)}", ""]
    for _ in range(int(rng.integers(2, 7))):
        if rng.random() < 0.25:
            out.append(f"class {_ident(rng, vocab).title().replace('_', '')}:")
            out.append(f'    """{_phrase(rng, vocab, 3, 10)}"""')
            for _ in range(int(rng.integers(1, 4))):
                out.append(f"    def {_ident(rng, vocab)}(self, {_ident(rng, vocab)}):")
                for _ in range(int(rng.integers(1, 6))):
                    out.append(f"        {_ident(rng, vocab)} = {_ident(rng, vocab)}({_ident(rng, vocab)})")
                out.append(f"        return {_ident(rng, vocab)}")
                out.append("")
        else:
            out.append(f"def {_ident(rng, vocab)}({_ident(rng, vocab)}, {_ident(rng, vocab)}):")
            out.append(f'    """{_phrase(rng, vocab, 3, 12)}"""')
            for _ in range(int(rng.integers(1, 8))):
                out.append(f"    {_ident(rng, vocab)} = {_ident(rng, vocab)} + {_ident(rng, vocab)}")
            out.append(f"    return {_ident(rng, vocab)}")
        out.append("")
    return "\n".join(out)


def js_file(rng, vocab):
    out = [f"import {{ {_ident(rng, vocab)} }} from './{_ident(rng, vocab)}';", ""]
    for _ in range(int(rng.integers(2, 6))):
        if rng.random() < 0.3:
            out.append(f"class {_ident(rng, vocab).title().replace('_', '')} {{")
            for _ in range(int(rng.integers(1, 3))):
                out.append(f"  {_ident(rng, vocab)}({_ident(rng, vocab)}) {{")
                out.append(f"    return {_ident(rng, vocab)} + {_ident(rng, vocab)};")
                out.append("  }")
            out.append("}")
        else:
            out.append(f"// {_phrase(rng, vocab, 3, 10)}")
            out.append(f"function {_ident(rng, vocab)}({_ident(rng, vocab)}) {{")
            for _ in range(int(rng.integers(1, 7))):
                out.append(f"  const {_ident(rng, vocab)} = {_ident(rng, vocab)}({_ident(rng, vocab)});")
            out.append(f"  return {_ident(rng, vocab)};")
            out.append("}")
        out.append("")
    return "\n".join(out)


def md_file(rng, vocab):
    out = [f"# {_phrase(rng, vocab, 2, 5)}", ""]
    for _ in range(int(rng.integers(1, 5))):
        out.append(f"## {_phrase(rng, vocab, 2, 5)}")
        out.append("")
        for _ in range(int(rng.integers(1, 4))):
            out.append(_phrase(rng, vocab, 8, 30))
            out.append("")
    return "\n".join(out)


MAKERS = ((".py", py_file, 0.5), (".js", js_file, 0.3), (".md", md_file, 0.2))


def new_file(rng, vocab, i):
    r, acc = rng.random(), 0.0
    for ext, make, p in MAKERS:
        acc += p
        if r < acc:
            break
    return f"pkg{i % 16:02d}/mod{i:05d}{ext}", make(rng, vocab)


def mutate(rng, vocab, content):
    """Near-copy: the same file with one to three lines rewritten."""
    lines = content.split("\n")
    for _ in range(int(rng.integers(1, 4))):
        j = int(rng.integers(0, len(lines)))
        if lines[j].strip():
            lead = lines[j][:len(lines[j]) - len(lines[j].lstrip())]
            lines[j] = lead + f"{_ident(rng, vocab)} = {_ident(rng, vocab)}"
    return "\n".join(lines)


def code_tree(out, seed, n_files, n_batches=0, batch_files=4):
    """Write `tree/`, `tree_docs.parquet` (doc_id, text) over the same files,
    the query inputs (`queries.txt`, `symbols.txt`, `paths.txt`, one per
    line) and, for ingest, `batches/NNNN/<path>`: per batch, new files,
    modified re-submissions of files already in the tree, and near-copies of
    existing files under new paths."""
    rng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 1500)
    files = {}
    for i in range(n_files):
        path, content = new_file(rng, vocab, i)
        files[path] = content
    paths = sorted(files)
    tree_bytes = _write_files(os.path.join(out, "tree"), files)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(paths)), pa.int64()),
        "text": pa.array([files[p] for p in paths], pa.string()),
    }), os.path.join(out, "tree_docs.parquet"))
    _lines(out, "queries.txt", (_phrase(rng, vocab, 2, 6) for _ in range(400)))
    _lines(out, "symbols.txt", (" ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), 4))
                                for _ in range(100)))
    _lines(out, "paths.txt", (paths[int(i)] for i in rng.integers(0, len(paths), 400)))
    n_next = n_files
    live = list(paths)
    batch_bytes = 0
    for b in range(n_batches):
        batch = {}
        for j in range(batch_files):
            kind = j % 3
            if kind == 0:
                path, content = new_file(rng, vocab, n_next)
                n_next += 1
            elif kind == 1:
                path = live[int(rng.integers(0, len(live)))]
                content = mutate(rng, vocab, files[path])
            else:
                src = live[int(rng.integers(0, len(live)))]
                path = f"copies/copy{n_next:05d}{os.path.splitext(src)[1]}"
                n_next += 1
                content = mutate(rng, vocab, files[src])
            if path in batch:
                continue
            if path not in files:
                live.append(path)
            files[path] = content
            batch[path] = content
        batch_bytes += _write_files(os.path.join(out, "batches", f"{b:04d}"), batch)
    return {"files": n_files, "bytes": tree_bytes, "batches": n_batches,
            "batch_files": batch_files, "batch_bytes": batch_bytes}


def _write_files(root, files):
    total = 0
    for path, content in files.items():
        p = os.path.join(root, path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        data = content.encode()
        with open(p, "wb") as f:
            f.write(data)
        total += len(data)
    return total


def _lines(out, name, rows):
    with open(os.path.join(out, name), "w") as f:
        f.write("\n".join(rows) + "\n")


def corpus(out, seed, n_docs, n_vecs=0):
    """documents.parquet (and embeddings.parquet when n_vecs > 0) in
    gen_sf's schemas and distributions, seeded."""
    rng = np.random.default_rng(seed)
    vocab_dir = os.path.join(out, "vocab")
    os.makedirs(vocab_dir, exist_ok=True)
    words = vocabulary(rng, 3000)
    pq.write_table(pa.table({"text": pa.array([" ".join(words[i:i + 50]) for i in range(0, len(words), 50)])}),
                   os.path.join(vocab_dir, "documents.parquet"))
    gen_sf.SF01 = vocab_dir
    docs = gen_sf.gen_documents(out, rng, n_docs)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    sizes = {"docs": n_docs, "doc_bytes": int(sum(docs.column("n_chars").to_pylist()))}
    if n_vecs:
        emb = gen_sf.gen_embeddings(rng, n_vecs)
        pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
        sizes.update(vecs=n_vecs, vec_bytes=n_vecs * 64 * 4)
    return sizes
