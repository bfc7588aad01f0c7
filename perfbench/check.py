"""Compare a pipeline's entity plane with the planted truth.

A planted mention is wrong when the output has no span with its
``(note_id, start_char, end_char, label)``, when none of those spans
carries one of its ``kb_ids``, or when a qualifier flag differs from
the expected one (a missing column or a NULL flag is wrong too).  Spans
the generator did not plant are not judged.  A note fails when any of
its mentions is wrong; ``error_rate`` is failed notes over notes.

Every error counts towards ``error_rate``.  Errors that match a defect
of the program documented in perfbench/README.md are also tagged with
that defect, so a run separates known defects from new ones.
"""

from __future__ import annotations

import re
import unicodedata
from collections import Counter, defaultdict
from dataclasses import dataclass

from .gen import FLAGS, Mention

# Section titles of the default ``eds.sections`` vocabulary that make
# ``eds.history_full`` call a span history (the "antecedents" section).
_HISTORY_TITLE_RX = re.compile(r"\b(?:antecedents|atcd)\b")
# A number followed by "mais": the date pattern reads "<n> mai" in it.
_MAI_IN_MAIS_RX = re.compile(r"\b\d{1,2}\s+mais\b")


def _fold(text: str) -> str:
    """Lower case, accents removed."""
    nfd = unicodedata.normalize("NFD", text)
    return "".join(c for c in nfd if not unicodedata.combining(c)).lower()


@dataclass(frozen=True)
class Error:
    mention: Mention
    kind: str          # "missing", "kb_id" or a flag name
    got: str = ""

    def __str__(self) -> str:
        m = self.mention
        got = f"={self.got}" if self.got else ""
        return f"{self.kind}{got} {m.label} {m.text!r} @{m.start_char}"


def find_errors(truth: list[Mention], rows: list[dict],
                flags: tuple[str, ...] = FLAGS) -> dict[int, list[Error]]:
    """note_id -> errors of its planted mentions.

    ``rows`` are output entities as dicts (note_id, start_char,
    end_char, label, and kb_id or flag columns); ``flags`` are the
    qualifier columns the pipeline must produce."""
    found = defaultdict(list)
    for r in rows:
        found[(int(r["note_id"]), int(r["start_char"]), int(r["end_char"]),
               r["label"])].append(r)
    errors: dict[int, list[Error]] = defaultdict(list)
    for m in truth:
        hits = found.get((m.note_id, m.start_char, m.end_char, m.label))
        if not hits:
            errors[m.note_id].append(Error(m, "missing"))
            continue
        if m.kb_ids and not any(h.get("kb_id") in m.kb_ids for h in hits):
            errors[m.note_id].append(Error(m, "kb_id"))
        for f in flags:
            got = {h.get(f) for h in hits}
            if got != {getattr(m, f)}:
                errors[m.note_id].append(
                    Error(m, f, ",".join(sorted(map(str, got)))))
    return dict(errors)


def known_defect(err: Error, note_text: str) -> str | None:
    """Name of the documented program defect that explains ``err``."""
    m = err.mention
    if (m.label == "covid" and err.kind in FLAGS and getattr(m, err.kind)
            and set(err.got.split(",")) <= {"False", "None"}):
        # eds.covid spans carry NULL tok_start, so no qualifier sees them:
        # a flag they should carry comes out false
        return "covid_unqualified"
    if (err.kind == "history" and not m.history
            and _HISTORY_TITLE_RX.search(_fold(note_text[:m.start_char]))):
        # a section title word anywhere in a line opens a section that
        # runs to the next title
        return "inline_section_history"
    if err.kind == "history" and not m.history:
        start = note_text.rfind(".", 0, m.start_char) + 1
        end = note_text.find(".", m.end_char)
        if end < 0:
            end = len(note_text)
        if _MAI_IN_MAIS_RX.search(_fold(note_text[start:end])):
            # "COVID-19 mais ..." holds the date "19 mai": the month
            # pattern has no word boundary
            return "mai_in_mais_date"
    if err.kind == "missing" and m.kb_ids and "." in m.text:
        # the tokenizer keeps "C3." / "N." whole; dictionary keys split them
        return "dotted_form_missed"
    if err.kind == "missing" and m.kb_ids and m.text.endswith("'"):
        # the bundled key keeps a closing quote on the word before it
        # ("hanche ' a ressort'"), which the notes' tokens never match
        return "quote_end_form_missed"
    return None


def summarize(errors: dict[int, list[Error]], texts: dict[int, str],
              n_notes: int) -> dict:
    """error_rate, failed notes, notes with an unexplained error, and
    error counts per known defect."""
    defects = Counter()
    unknown = []
    for note_id, errs in errors.items():
        for e in errs:
            tag = known_defect(e, texts[note_id])
            if tag:
                defects[tag] += 1
            else:
                unknown.append(e)
    return {
        "error_rate": len(errors) / n_notes if n_notes else 0.0,
        "failed_notes": len(errors),
        "unknown_error_notes": sorted({e.mention.note_id for e in unknown}),
        "unknown_errors": [str(e) for e in unknown],
        "defects": dict(defects),
    }
