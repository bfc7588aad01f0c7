import random

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.workloads import WORKLOADS, write_notes

ROOT = __file__.rsplit("/perfbench/", 1)[0]


def _lexicon(seed, n):
    return WORKLOADS["corpus_lexicon"].make(seed, n, ROOT)


def test_same_seed_same_corpus():
    for make in (gen.qualify_corpus, _lexicon):
        a, b = make(7, 12), make(7, 12)
        assert a.notes == b.notes
        assert a.mentions == b.mentions
        assert make(8, 12).notes != a.notes


def test_every_seed_gives_the_same_amount_of_text():
    shapes = set()
    for seed in (1, 2, 3):
        plan = gen._sentence_plan(random.Random(seed), 25, 0.4, per_file=10)
        assert len(plan) == 25
        assert all(gen.MIN_SENTS <= len(p) <= gen.MAX_SENTS for p in plan)
        assert all(sum(p) == round(len(p) * 0.4) for p in plan)
        # the same note lengths in every file, in another order per seed
        shapes.add(tuple(tuple(sorted(map(len, plan[i:i + 10])))
                         for i in range(0, 25, 10)))
    assert len(shapes) == 1
    (files,) = shapes
    assert files[0] == files[1]
    counts = {len(_lexicon(seed, 25).mentions) for seed in (1, 2, 3)}
    assert len(counts) == 1


def test_lexicon_labels_take_equal_shares():
    corpus = _lexicon(6, 40)
    labels = [m.label for m in corpus.mentions]
    assert abs(labels.count("cim10") - labels.count("drug")) <= 1


def test_planted_offsets_point_at_the_mention():
    for corpus in (gen.qualify_corpus(3, 30), _lexicon(3, 30)):
        texts = {nid: text for nid, text, _ in corpus.notes}
        assert corpus.mentions
        for m in corpus.mentions:
            assert texts[m.note_id][m.start_char:m.end_char] == m.text


def test_qualify_corpus_plants_every_cue_class():
    corpus = gen.qualify_corpus(5, 60)
    labels = {m.label for m in corpus.mentions}
    assert "covid" in labels and len(labels) > 5
    for flag in gen.FLAGS:
        assert any(getattr(m, flag) for m in corpus.mentions), flag
    texts = " ".join(t for _, t, _ in corpus.notes)
    for cue in ("Pas de", "exclu", "Suspicion de", "possible",
                "dans la famille", "Antécédents de", " mais "):
        assert cue in texts, cue


def test_lexicon_forms_carry_their_kb_ids():
    corpus = _lexicon(4, 20)
    assert {m.label for m in corpus.mentions} == {"cim10", "drug"}
    assert all(m.kb_ids for m in corpus.mentions)


def test_write_notes_round_trips(tmp_path):
    corpus = gen.qualify_corpus(2, 10)
    write_notes(corpus, str(tmp_path / "notes"))
    table = pq.read_table(str(tmp_path / "notes"))
    assert table.column_names == ["note_id", "note_text", "note_datetime"]
    assert sorted(table.column("note_id").to_pylist()) == list(range(10))
