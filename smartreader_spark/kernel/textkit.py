"""Text-level scalar functions.

Parity: Readability.cs:324-336 (TextSimilarity), :246-249 (wordCount),
Article.cs:268-344 (ConvertToPlaintext), TimeToReadCalculator.cs.
"""

from __future__ import annotations

import re
import unicodedata

from .dom import Element, Node
from .regexes import NON_WORD_TOKENIZER, WHITESPACE


def word_count(s: str) -> int:
    """Readability.cs:246-249 — Regex.Split(@'\\s+').Length (C# split keeps
    leading/trailing empty fields, so ' a b ' -> ['', 'a', 'b', ''] = 4)."""
    return len(re.split(r"\s+", s))


def text_similarity(text_a: str, text_b: str) -> float:
    """Readability.cs:324-336 — 1 − len(join(unique-B-tokens))/len(join(B))."""
    tokens_a = [t for t in NON_WORD_TOKENIZER.split(text_a.lower()) if t]
    tokens_b = [t for t in NON_WORD_TOKENIZER.split(text_b.lower()) if t]
    if not tokens_a or not tokens_b:
        return 0.0
    set_a = set(tokens_a)
    uniq_b = [t for t in tokens_b if t not in set_a]
    distance_b = len(" ".join(uniq_b)) / len(" ".join(tokens_b))
    return 1.0 - distance_b


def _convert_to_text(el: Element, out: list[str]) -> None:
    """Article.cs:320-344 ConvertToText — newline before P/BR, after P.
    Iterative to survive deep trees."""
    # emulate the recursion with an explicit (node, phase) stack
    stack: list[tuple[Element, int]] = [(el, 0)]
    while stack:
        node, phase = stack.pop()
        if phase == 0:
            if node.tag in ("p", "br"):
                out.append("\n")
            stack.append((node, 1))
            # push children in reverse so they pop in document order
            for child in reversed(node.child_nodes):
                if child.node_type == Node.ELEMENT:
                    stack.append((child, 0))  # type: ignore[arg-type]
                elif child.node_type == Node.TEXT:
                    stack.append((child, 2))  # type: ignore[arg-type]
        elif phase == 1:
            if node.tag == "p":
                out.append("\n")
        else:  # text node payload
            out.append(node.data)  # type: ignore[attr-defined]


# Every pattern below starts with a character set, so ``re`` skips the
# positions that cannot start a match instead of trying each one (a leading
# optional token or lookbehind, as in ``(\r?\n){3,}``, defeats that and
# cost three quarters of convert_to_plaintext).
_TABS = re.compile(r"\t+")
# three or more line breaks (\n or \r\n)
_MULTI_NL = re.compile(r"(?:\r\n|\n)(?:\r?\n){2,}")

# char.IsSeparator == Unicode Z* categories; build the exact class once
_Z_CLASS = re.escape(
    "".join(
        chr(c) for c in range(0x3001) if unicodedata.category(chr(c)).startswith("Z")
    )
)
# the reference's per-char state machine (Article.cs:283-307) drops a
# separator when: previous INPUT char was a separator or newline, or the
# NEXT input char is a newline — expressed as one regex over the input that
# matches the separator first and then looks around it
_DROP_SEP = re.compile(
    rf"[{_Z_CLASS}](?:(?<=[{_Z_CLASS}\r\n][{_Z_CLASS}])|(?=[\r\n]))"
)


def convert_to_plaintext(el: Element) -> str:
    """Article.cs:268-318 — whitespace state machine (regex-vectorized;
    verified char-for-char equivalent to the per-char loop)."""
    parts: list[str] = []
    _convert_to_text(el, parts)
    text = "".join(parts)
    if "\t" in text:
        text = _TABS.sub(" ", text)
    text = _DROP_SEP.sub("", text).strip()
    return _MULTI_NL.sub("\n\n", text)


# TimeToReadCalculator.cs:10-29 — chars/minute by language English name
CHARACTERS_MINUTE = {
    "Arabic": 612, "Chinese": 255, "Dutch": 978, "English": 987,
    "Finnish": 1078, "French": 998, "German": 920, "Hebrew": 833,
    "Italian": 950, "Japanese": 357, "Polish": 916, "Portuguese": 913,
    "Swedish": 917, "Slovenian": 885, "Spanish": 1025, "Russian": 986,
    "Turkish": 1054,
}

# CultureInfo(lang).EnglishName prefix → table key. Primary subtags only;
# unknown → the 960 default (TimeToReadCalculator.cs:66).
_LANG_TO_ENGLISH_NAME = {
    "ar": "Arabic", "zh": "Chinese", "nl": "Dutch", "en": "English",
    "fi": "Finnish", "fr": "French", "de": "German", "he": "Hebrew",
    "it": "Italian", "ja": "Japanese", "pl": "Polish", "pt": "Portuguese",
    "sv": "Swedish", "sl": "Slovenian", "es": "Spanish", "ru": "Russian",
    "tr": "Turkish",
}


def chars_per_minute(language: str | None) -> int:
    """TimeToReadCalculator.cs:49-69."""
    if language:
        primary = language.split("-")[0].split("_")[0].strip().lower()
        name = _LANG_TO_ENGLISH_NAME.get(primary)
        if name:
            return CHARACTERS_MINUTE[name]
    return 960


#: str.translate table deleting what the reference does not count as a
#: letter: ' ' and BMP punctuation (an astral character always counts)
_NOT_LETTERS: dict[int, None] = {
    cp: None
    for cp in range(0x10000)
    if cp == 0x20 or unicodedata.category(chr(cp)).startswith("P")
}


def _count_letters(text: str) -> int:
    """Count UTF-16 code units that are not ' ' and not Unicode punctuation.

    The reference counts C# chars (TimeToReadCalculator.cs:42), i.e. UTF-16
    code units: an astral character (e.g. an emoji) is a surrogate pair whose
    halves are category Cs — neither ' ' nor punctuation — so it weighs 2.
    (Verified: firefox-nightly-blog's expected timeToRead is only reproducible
    with three U+1F31F weighing 2 each: 7893 + 3 = 7896 = 987·8.)
    Both passes run in C: the UTF-16 length, less the characters the
    translate table deletes."""
    units = len(text.encode("utf-16-le", "surrogatepass")) // 2
    return units - (len(text) - len(text.translate(_NOT_LETTERS)))


def time_to_read_minutes(element_text: str, plaintext: str, language: str | None) -> int:
    """TimeToReadCalculator.cs:33-47 — whole minutes (C# integer division),
    minimum 1 when there is any text; 0 when TextContent empty."""
    if not plaintext:
        return 0
    weight = chars_per_minute(language)
    # TimeToReadCalculator.cs:42 — counts chars != ' ' and not punctuation
    # (newlines/tabs/nbsp DO count as letters in the reference)
    letter_count = _count_letters(element_text)
    minutes = letter_count // weight
    return minutes if minutes > 0 else 1
