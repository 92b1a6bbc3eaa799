"""Seeded synthetic Textract corpus for the farm workloads.

Each document is ~64 LINE blocks over 2 pages x 2 columns: a header line
per page, ten name lines per column with 0-5 numbers, continuation lines
(numbers only) and junk lines, as in `tools/bench_parity.py`. The four
reference-produced documents of the golden pipeline fixtures are planted
at positions chosen by the seed, so their output rows can be checked
against the reference's `csv_rows`.

The corpus is written as one JSON-lines block dump per document
(`dumps/docNNNNN.json`), the shape of a Textract result stored as one
object per scanned page set. The same seed gives byte-identical files.
"""
import json
import os
import random

NAMES = ["Seymour Grady", "John A. Smith", "Mary Hall", "Robt. Stemple Jr.",
         "Wm. Jones", "A. B. Carter", "O'Brien Murphy", "Jacob van Berg"]
HEADERS = ["Wayne County West Virginia", "Agricultural Census 1860",
           "Name of Owner", "CASH VALUE of farm"]
GOLDENS = os.path.join("src", "test", "resources", "goldens",
                       "pipeline_fixtures.json")


def doc_blocks(rng):
    blocks = []

    def line(text, page, left, top):
        blocks.append({"BlockType": "LINE", "Text": text, "Page": page,
                       "Geometry": {"BoundingBox": {
                           "Left": left, "Top": round(top, 4),
                           "Width": 0.1, "Height": 0.01}}})

    for page in (1, 2):
        line(rng.choice(HEADERS), page, 0.3, 0.01)
        for x in (0.08, 0.58):
            top = 0.05
            for _ in range(10):
                name = rng.choice(NAMES)
                nums = ", ".join(str(rng.randint(1, 9999))
                                 for _ in range(rng.randint(0, 5)))
                line(f"{name}, {nums}" if nums else name, page, x, top)
                top += 0.012
                if rng.random() < 0.4:  # continuation line
                    line(", ".join(str(rng.randint(1, 999))
                                   for _ in range(rng.randint(1, 4))),
                         page, x + 0.02, top)
                    top += 0.012
                if rng.random() < 0.15:  # junk line
                    line(f"x {rng.randint(100, 999)} smudge", page, x, top)
                    top += 0.012
    return blocks


def load_goldens(root):
    with open(os.path.join(root, GOLDENS)) as f:
        return json.load(f)


def generate(seed, n_docs, goldens):
    """Returns ([(doc_id, blocks)], {doc_id: fixture name})."""
    names = sorted(goldens)
    spots = random.Random(f"plant:{seed}").sample(range(n_docs), len(names))
    planted = {f"doc{d:05d}": n for d, n in zip(spots, names)}
    docs = []
    for d in range(n_docs):
        doc = f"doc{d:05d}"
        if doc in planted:
            docs.append((doc, goldens[planted[doc]]["blocks"]))
        else:
            docs.append((doc, doc_blocks(random.Random(f"doc:{seed}:{d}"))))
    return docs, planted


def dump(blocks):
    """One document's JSON-lines block dump."""
    return "".join(json.dumps(b, separators=(",", ":")) + "\n"
                   for b in blocks).encode()


def write_dumps(docs, out_dir):
    os.makedirs(out_dir)
    for doc, blocks in docs:
        with open(os.path.join(out_dir, doc + ".json"), "wb") as f:
            f.write(dump(blocks))
