"""Workload definitions: generated corpus, pipeline, layer names.

Each pipe is listed with the span name the traced run records for it;
span names follow the library's modules.  Pipes are built with
``edsnlp_spark.create`` and added to the facade as objects, which is
what ``SparkNLP.add_pipe(name, **config)`` does, so the traced run can
wrap the same pipe objects in spans.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

# Layers the traced run records, in pipeline order; a workload reports
# every layer, with zero counts and times for layers it does not run.
SPANS = ("io.read", "prepare", "matcher", "regex", "terminology.cim10",
         "terminology.drugs", "qualifiers.negation", "qualifiers.hypothesis",
         "qualifiers.family", "history", "io.write")

# Input files per corpus: the reader's parallelism is its file splits.
N_FILES = 8


def _per_file(n_notes: int) -> int:
    """Notes per input file (see ``write_notes``)."""
    return -(-n_notes // N_FILES)


@dataclass(frozen=True)
class Workload:
    name: str
    n_notes: int
    flags: tuple[str, ...]                       # qualifier columns checked
    pipes: tuple[tuple[str, dict, str], ...]     # (factory, config, span)
    make: Callable[[int, int, str], gen.Corpus]  # (seed, n_notes, repo root)


def _qualify(seed: int, n: int, root: str) -> gen.Corpus:
    return gen.qualify_corpus(seed, n, _per_file(n))


def _lexicon(seed: int, n: int, root: str) -> gen.Corpus:
    res = os.path.join(root, "edsnlp_spark", "resources")
    dicts = {label: pq.read_table(os.path.join(res, f"{name}.parquet"))
             .to_pandas() for label, name in (("cim10", "cim10"),
                                              ("drug", "drugs"))}
    return gen.lexicon_corpus(seed, n, gen.lexicon_forms(dicts), _per_file(n))


WORKLOADS = {
    "corpus_qualify": Workload(
        "corpus_qualify", 120, gen.FLAGS,
        (("eds.matcher", {"terms": gen.DISEASES}, "matcher"),
         ("eds.covid", {}, "regex"),
         ("eds.negation", {}, "qualifiers.negation"),
         ("eds.hypothesis", {}, "qualifiers.hypothesis"),
         ("eds.family", {}, "qualifiers.family"),
         ("eds.history_full", {}, "history")),
        _qualify),
    "corpus_lexicon": Workload(
        "corpus_lexicon", 160, (),
        (("eds.cim10", {}, "terminology.cim10"),
         ("eds.drugs", {}, "terminology.drugs")),
        _lexicon),
}


def write_notes(corpus: gen.Corpus, path: str) -> None:
    """The corpus as ``N_FILES`` parquet files of
    (note_id, note_text, note_datetime)."""
    os.makedirs(path)
    ids, texts, whens = zip(*corpus.notes)
    table = pa.table({
        "note_id": pa.array(ids, pa.int64()),
        "note_text": pa.array(texts, pa.string()),
        "note_datetime": pa.array(whens, pa.timestamp("us", tz="UTC")),
    })
    step = _per_file(len(ids))
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"))
