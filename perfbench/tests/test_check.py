import dataclasses

from perfbench import check, gen


def _perfect_rows(corpus):
    return [{"note_id": m.note_id, "start_char": m.start_char,
             "end_char": m.end_char, "label": m.label,
             "kb_id": m.kb_ids[0] if m.kb_ids else None,
             **{f: getattr(m, f) for f in gen.FLAGS}}
            for m in corpus.mentions]


def _summary(corpus, rows):
    texts = {nid: t for nid, t, _ in corpus.notes}
    errors = check.find_errors(corpus.mentions, rows)
    return check.summarize(errors, texts, len(corpus.notes))


def test_perfect_output_has_no_error():
    corpus = gen.qualify_corpus(1, 20)
    assert _summary(corpus, _perfect_rows(corpus))["error_rate"] == 0.0


def test_flipped_expected_flag_is_caught():
    corpus = gen.qualify_corpus(1, 20)
    rows = _perfect_rows(corpus)
    m = next(m for m in corpus.mentions if m.label != "covid")
    i = corpus.mentions.index(m)
    corpus.mentions[i] = dataclasses.replace(m, negation=not m.negation)
    s = _summary(corpus, rows)
    assert s["error_rate"] > 0
    assert s["unknown_error_notes"] == [m.note_id]


def test_missing_span_and_null_flag_are_errors():
    corpus = gen.qualify_corpus(2, 20)
    rows = _perfect_rows(corpus)
    del rows[0]
    rows[1]["family"] = None
    assert _summary(corpus, rows)["failed_notes"] == len(
        {corpus.mentions[0].note_id, corpus.mentions[1].note_id})


def test_wrong_kb_id_is_an_error():
    m = gen.Mention(0, 0, 3, "drug", "abc", kb_ids=("A01",))
    rows = [{"note_id": 0, "start_char": 0, "end_char": 3, "label": "drug",
             "kb_id": "B02"}]
    errors = check.find_errors([m], rows, flags=())
    assert [e.kind for e in errors[0]] == ["kb_id"]


def test_known_defects_are_tagged_and_still_counted():
    text = "Antécédents de asthme. Pas de covid. Le patient a un HTA."
    c, h = text.index("covid"), text.index("HTA")
    covid = gen.Mention(0, c, c + 5, "covid", "covid", negation=True)
    hta = gen.Mention(0, h, h + 3, "hta", "HTA")
    corpus = gen.Corpus(notes=[(0, text, None)], mentions=[covid, hta])
    rows = _perfect_rows(corpus)
    rows[0]["negation"] = False     # eds.covid spans are never qualified
    rows[1]["history"] = True       # "Antécédents" opened a section
    s = _summary(corpus, rows)
    assert s["error_rate"] == 1.0
    assert s["unknown_error_notes"] == []
    assert s["defects"] == {"covid_unqualified": 1,
                            "inline_section_history": 1}


def test_covid_flag_set_wrongly_is_not_the_known_defect():
    text = "Le patient a un covid."
    c = text.index("covid")
    covid = gen.Mention(0, c, c + 5, "covid", "covid")
    corpus = gen.Corpus(notes=[(0, text, None)], mentions=[covid])
    rows = _perfect_rows(corpus)
    rows[0]["family"] = True        # not a missing qualification
    s = _summary(corpus, rows)
    assert s["unknown_error_notes"] == [0]
    assert s["defects"] == {}


def test_missed_forms_with_punctuation_are_tagged():
    text = "Codage : HANCHE 'A RESSORT' retenu. Codage : C3.01 retenu."
    q, d = text.index("HANCHE"), text.index("C3.01")
    quoted = gen.Mention(0, q, q + 18, "cim10", "HANCHE 'A RESSORT'",
                         kb_ids=("M2430",))
    dotted = gen.Mention(0, d, d + 5, "cim10", "C3.01", kb_ids=("C301",))
    corpus = gen.Corpus(notes=[(0, text, None)], mentions=[quoted, dotted])
    s = _summary(corpus, [])
    assert s["unknown_error_notes"] == []
    assert s["defects"] == {"quote_end_form_missed": 1,
                            "dotted_form_missed": 1}
