"""Seeded note generator with planted truth.

Every generated note is a sequence of sentences drawn from templates.  A
mention template plants one or two entity mentions and records, for each,
``(note_id, start_char, end_char, label)`` plus the qualifier flags a
correct pipeline must give it.  Filler sentences carry no mention.  The
same seed always yields the same notes and the same truth.

Cue classes follow the reference's qualifier patterns: preceding and
following negation ("pas de X", "X exclu"), preceding and following
hypothesis ("suspicion de X", "X possible"), family boundary cues
("X dans la famille"), history cues ("antécédents de X") and old dates
relative to ``note_datetime``, and the "mais" termination cue that cuts
a cue's scope.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from dataclasses import dataclass, field

FLAGS = ("negation", "hypothesis", "family", "history")

# eds.matcher terms (matched on NORM: lower case, accents folded): label
# -> surface forms written in notes.  None overlaps eds.covid's pattern;
# where one form starts another ("diabète de type 2"), the checker only
# asks for the planted span.
DISEASES = {
    "diabete": ["diabète", "diabète de type 2"],
    "hta": ["hypertension artérielle", "HTA"],
    "asthme": ["asthme"],
    "insuffisance_cardiaque": ["insuffisance cardiaque"],
    "embolie": ["embolie pulmonaire"],
    "avc": ["accident vasculaire cérébral", "AVC"],
    "cancer": ["cancer du sein", "cancer colique"],
    "bpco": ["BPCO", "bronchopneumopathie chronique obstructive"],
}
# Surface forms eds.covid's pattern recognises (label "covid").
COVID_FORMS = ["covid", "COVID-19", "Covid 19", "SARS-CoV-2", "coronavirus",
               "infection à COVID-19"]

MONTHS = ["janvier", "février", "mars", "avril", "mai", "juin", "juillet",
          "août", "septembre", "octobre", "novembre", "décembre"]

# Sentences without any mention (a cue in them has nothing to qualify).
FILLERS = [
    "Le patient est apyrétique.",
    "La tension est stable.",
    "Bilan biologique sans particularité.",
    "Patient vu en consultation de suivi.",
    "Le scanner thoracique est normal.",
    "Poursuite du traitement habituel.",
    "Il est adressé par son médecin traitant.",
    "Auscultation cardiaque normale.",
    "Abdomen souple et indolore.",
    "Prochain rendez-vous dans trois mois.",
]

# (template, flags set on the mention).  ``{m}`` is the mention; a
# template starting with ``{M}`` capitalises it.
SINGLE = [
    ("Le patient présente un {m}.", ()),
    ("On retrouve un {m} à l'examen.", ()),
    ("Pas de {m}.", ("negation",)),
    ("Absence de {m} à l'imagerie.", ("negation",)),
    ("{M} exclu.", ("negation",)),
    ("{M} absent sur le bilan.", ("negation",)),
    ("Suspicion de {m}.", ("hypothesis",)),
    ("{M} possible.", ("hypothesis",)),
    ("{M} dans la famille.", ("family",)),
    ("Sa mère a un {m}.", ("family",)),
    ("Antécédents de {m}.", ("history",)),
    ("{M} diagnostiqué en {month} {year}.", ("history",)),
]
# Termination: the cue's scope stops at "mais", so the second mention
# carries no flag.
PAIRED = [
    ("Pas de {m} mais un {m2}.", ("negation",)),
    ("Suspicion de {m} mais un {m2}.", ("hypothesis",)),
]


@dataclass(frozen=True)
class Mention:
    note_id: int
    start_char: int
    end_char: int
    label: str
    text: str
    negation: bool = False
    hypothesis: bool = False
    family: bool = False
    history: bool = False
    kb_ids: tuple[str, ...] = ()


@dataclass
class Corpus:
    notes: list[tuple[int, str, dt.datetime]] = field(default_factory=list)
    mentions: list[Mention] = field(default_factory=list)


class _NoteBuilder:
    def __init__(self, note_id: int):
        self.note_id = note_id
        self.parts: list[str] = []
        self.length = 0
        self.mentions: list[Mention] = []

    def add(self, sentence: str, planted=()) -> None:
        """Append ``sentence``; ``planted`` holds (offset, text, label,
        flags, kb_ids) with offsets relative to the sentence."""
        if self.parts:
            self.parts.append(" ")
            self.length += 1
        base = self.length
        for off, text, label, flags, kb_ids in planted:
            assert sentence[off:off + len(text)] == text
            self.mentions.append(Mention(
                self.note_id, base + off, base + off + len(text), label,
                text, kb_ids=kb_ids, **{f: True for f in flags}))
        self.parts.append(sentence)
        self.length += len(sentence)

    def text(self) -> str:
        return "".join(self.parts)


def _fill(template: str, values: dict[str, str]) -> tuple[str, dict[str, int]]:
    """Format ``template`` and return the offset of each field."""
    out, offsets, i = [], {}, 0
    while i < len(template):
        if template[i] == "{":
            j = template.index("}", i)
            key = template[i + 1:j]
            offsets[key] = sum(len(p) for p in out)
            out.append(values[key])
            i = j + 1
        else:
            out.append(template[i])
            i += 1
    return "".join(out), offsets


def _note_datetime(rng: random.Random) -> dt.datetime:
    return dt.datetime(2019, 1, 1) + dt.timedelta(
        days=rng.randrange(4 * 365), minutes=rng.randrange(24 * 60))


# Sentences per note, and the share of sentences planting mentions.
# Note lengths are the same for every seed (see ``_sentence_plan``), so
# every seed gives the program the same amount of text and of mentions
# to find.
MIN_SENTS, MAX_SENTS = 5, 40
QUALIFY_MENTION_SHARE, COVID_SHARE, PAIRED_SHARE = 0.45, 0.25, 0.2
LEXICON_MENTION_SHARE = 0.7
# Longest dictionary form planted, in tokens (as clinicians write them).
LEXICON_MAX_TOKENS = 8


def _sentence_plan(rng: random.Random, n_notes: int, mention_share: float,
                   per_file: int | None = None) -> list[list[bool]]:
    """Per note, one flag per sentence: does it plant a mention?

    Within every run of ``per_file`` consecutive notes (one input file;
    the whole corpus by default) note lengths are spread evenly over
    [MIN_SENTS, MAX_SENTS], in an order drawn from the seed.  A note of
    n sentences plants mentions in round(n * mention_share) of them,
    drawn from the seed.  Every seed, and every full file, thus holds
    the same number of sentences and of mentions."""
    per_file = per_file or n_notes
    plan = []
    for start in range(0, n_notes, per_file):
        k = min(per_file, n_notes - start)
        lengths = [MIN_SENTS + round((MAX_SENTS - MIN_SENTS) * (j + 0.5) / k)
                   for j in range(k)]
        rng.shuffle(lengths)
        for n in lengths:
            planted = set(rng.sample(range(n), round(n * mention_share)))
            plan.append([j in planted for j in range(n)])
    return plan


def qualify_corpus(seed: int, n_notes: int,
                   per_file: int | None = None) -> Corpus:
    """Clinical notes for the qualifier pipeline (matcher + covid +
    negation, hypothesis, family, history); ``per_file`` as in
    ``_sentence_plan``."""
    rng = random.Random(seed)
    corpus = Corpus()
    plan = _sentence_plan(rng, n_notes, QUALIFY_MENTION_SHARE, per_file)
    for note_id, sentences in enumerate(plan):
        nb = _NoteBuilder(note_id)
        when = _note_datetime(rng)
        for plants in sentences:
            if not plants:
                nb.add(rng.choice(FILLERS))
                continue

            def pick():
                if rng.random() < COVID_SHARE:
                    return "covid", rng.choice(COVID_FORMS)
                label = rng.choice(sorted(DISEASES))
                return label, rng.choice(DISEASES[label])

            if rng.random() < PAIRED_SHARE:
                template, flags = rng.choice(PAIRED)
            else:
                template, flags = rng.choice(SINGLE)
            (label, form), (label2, form2) = pick(), pick()
            m_key = "M" if "{M}" in template else "m"
            m_text = form[0].upper() + form[1:] if m_key == "M" else form
            values = {m_key: m_text, "m2": form2,
                      "month": rng.choice(MONTHS),
                      "year": str(when.year - rng.randint(2, 30))}
            sentence, offs = _fill(template, values)
            planted = [(offs[m_key], m_text, label, flags, ())]
            if "m2" in offs:
                planted.append((offs["m2"], form2, label2, (), ()))
            nb.add(sentence, planted)
        corpus.notes.append((note_id, nb.text(), when))
        corpus.mentions.extend(nb.mentions)
    return corpus


# A word follows each form: a period right after it would join a final
# capital ("M.") or an acronym into one token, on the reference too.
LEXICON_TEMPLATES = {
    "drug": ["Traitement par {m} à poursuivre.",
             "Le patient prend {m} le matin.",
             "Introduction de {m} ce jour."],
    "cim10": ["Diagnostic retenu : {m} en cours.",
              "Le patient est suivi pour {m} depuis un an.",
              "Codage : {m} retenu."],
}


def lexicon_forms(dictionaries: dict[str, "object"]
                  ) -> dict[str, list[tuple[str, tuple[str, ...]]]]:
    """(surface form, kb_ids sharing its key) per label, from the
    bundled dictionaries (pandas frames with kb_id, term, key, n).
    Forms of up to ``LEXICON_MAX_TOKENS`` tokens; the first form of each
    key stands for it.  Forms are sorted by anchor fan-out (dictionary
    keys sharing the form's first key token, which the anchor join pairs
    with every occurrence), then by form."""
    out = {}
    for label, df in dictionaries.items():
        kb_ids: dict[str, set[str]] = {}
        first: dict[str, str] = {}
        fanout = Counter(key.split(" ")[0] for key in df["key"])
        for kb, term, key, n in zip(df["kb_id"], df["term"], df["key"],
                                    df["n"]):
            kb_ids.setdefault(key, set()).add(kb)
            if n <= LEXICON_MAX_TOKENS:
                first.setdefault(key, term)
        ranked = sorted((fanout[k.split(" ")[0]], t, k)
                        for k, t in first.items())
        out[label] = [(t, tuple(sorted(kb_ids[k]))) for _, t, k in ranked]
    return out


def _stratified(rng: random.Random, items: list, k: int) -> list:
    """k of ``items``, one from each of k equal runs of them, shuffled:
    every seed's draw spreads over the items' order alike."""
    picks = [items[rng.randrange(len(items) * i // k,
                                 len(items) * (i + 1) // k)]
             for i in range(k)]
    rng.shuffle(picks)
    return picks


def lexicon_corpus(seed: int, n_notes: int, forms,
                   per_file: int | None = None) -> Corpus:
    """Notes dense in dictionary surface forms (eds.cim10 + eds.drugs);
    ``per_file`` as in ``_sentence_plan``.  Labels take equal shares of
    the planted forms, and each label's forms are drawn across its
    fan-out order (``_stratified``), so every seed gives the anchor join
    about the same number of candidates."""
    rng = random.Random(seed)
    corpus = Corpus()
    plan = _sentence_plan(rng, n_notes, LEXICON_MENTION_SHARE, per_file)
    n_planted = sum(map(sum, plan))
    labels = [sorted(forms)[i % len(forms)] for i in range(n_planted)]
    rng.shuffle(labels)
    draws = {label: iter(_stratified(rng, forms[label], labels.count(label)))
             for label in sorted(forms)}
    for note_id, sentences in enumerate(plan):
        nb = _NoteBuilder(note_id)
        when = _note_datetime(rng)
        for plants in sentences:
            if not plants:
                nb.add(rng.choice(FILLERS))
                continue
            label = labels.pop()
            form, kb_ids = next(draws[label])
            sentence, offs = _fill(
                rng.choice(LEXICON_TEMPLATES[label]), {"m": form})
            nb.add(sentence, [(offs["m"], form, label, (), kb_ids)])
        corpus.notes.append((note_id, nb.text(), when))
        corpus.mentions.extend(nb.mentions)
    return corpus
