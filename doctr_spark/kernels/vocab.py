"""Character vocabularies and string<->index codecs.

Reimplements the vocab-composition and encode/decode semantics of
`/root/reference/doctr/datasets/vocabs.py:11-60, 238-258` and
`/root/reference/doctr/datasets/utils.py:75-179`. The glyph font encodes a
vocab index in CODE_BITS=7 bits, so the working vocab must stay < 128
characters; the default is the french composite (latin + Latin-1 accents,
120 chars), matching the reference's per-language composite pattern.
"""

from __future__ import annotations

DIGITS = "0123456789"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
ASCII_UPPER = ASCII_LOWER.upper()
PUNCTUATION = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"
# Latin-1 accent block of the reference's french vocab (vocabs.py:30);
# the currency tail is dropped to stay within the 7-bit glyph code space.
LATIN1_ACCENTS = "àâéèêëîïôùûüçÀÂÉÈÊËÎÏÔÙÛÜÇ"

CURRENCY = "£€¥¢฿"
# the reference's hebrew consonant block (vocabs.py:228; composite at :468)
HEBREW_CONSONANTS = "אבגדהוזחטיךכלםמןנסעףפץצקרשת"

VOCABS: dict[str, str] = {
    "digits": DIGITS,
    "ascii_letters": ASCII_LOWER + ASCII_UPPER,
    "punctuation": PUNCTUATION,
    "currency": CURRENCY,
    "latin": DIGITS + ASCII_LOWER + ASCII_UPPER + PUNCTUATION,
    # the engine RENDER default (120 chars, fits in 7 bits with room for
    # blank); the reference's french composite additionally carries the
    # degree sign + currency tail, which the glyph code space cannot hold
    "french": DIGITS + ASCII_LOWER + ASCII_UPPER + PUNCTUATION + LATIN1_ACCENTS,
}
VOCABS["english"] = VOCABS["latin"] + "°" + CURRENCY
# RTL working vocab: digits + punctuation + consonants (69 chars, fits the
# 7-bit glyph code space; the reference composite additionally carries
# vowel points/cantillations the render font does not model)
VOCABS["hebrew"] = DIGITS + PUNCTUATION + HEBREW_CONSONANTS

# Latin-family composites, composed by the reference's rule (vocabs.py:
# 238-350): english minus language-absent letters plus the language's
# accent set (and currency where the locale has one). Any of these works
# with translate/encode/decode; only the render default must fit 7 bits.
_LANG_EXT: dict[str, tuple[str, str]] = {
    "albanian": ("", "çëÇË"),
    "afrikaans": ("", "èëïîôûêÈËÏÎÔÛÊ"),
    "basque": ("", "ñçÑÇ"),
    "bosnian": ("QqWwXxYy", "čćđšžČĆĐŠŽ"),
    "catalan": ("", "àèéíïòóúüçÀÈÉÍÏÒÓÚÜÇ"),
    "croatian": ("", "ČčĆćĐđŠšŽž"),
    "czech": ("", "áčďéěíňóřšťúůýžÁČĎÉĚÍŇÓŘŠŤÚŮÝŽ"),
    "danish": ("", "æøåÆØÅ"),
    "dutch": ("", "áéíóúüñÁÉÍÓÚÜÑ"),
    "estonian": ("", "šžõäöüŠŽÕÄÖÜ"),
    "finnish": ("", "äöÄÖ"),
    "german": ("", "äöüßÄÖÜẞ"),
    "hungarian": ("", "áéíóöúüÁÉÍÓÖÚÜ"),
    "irish": ("", "áéíóúÁÉÍÓÚ"),
    "italian": ("", "àèéìíîòóùúÀÈÉÌÍÎÒÓÙÚ"),
    "norwegian": ("", "æøåÆØÅ"),
    "polish": ("", "ąćęłńóśźżĄĆĘŁŃÓŚŹŻ"),
    "portuguese": ("", "áàâãéêíïóôõúüçÁÀÂÃÉÊÍÏÓÔÕÚÜÇ"),
    "romanian": ("", "ăâîșțĂÂÎȘȚ"),
    "serbian_latin": ("", "čćđžšČĆĐŽŠ"),
    "slovak": ("", "ôäčďľňšťžáéíĺóŕúýÔÄČĎĽŇŠŤŽÁÉÍĹÓŔÚÝ"),
    "slovene": ("QqWwXxYy", "čćđšžČĆĐŠŽ"),
    "spanish": ("", "áéíóúüñÁÉÍÓÚÜÑ¡¿"),
    "swedish": ("", "åäöÅÄÖ"),
    "turkish": ("QqWwXx", "çğıöşüâîûÇĞİÖŞÜÂÎÛ₺"),
    "welsh": ("KkQqVvXxZz", "âêîôŵŷÂÊÎÔŴŶ"),
}
for _lang, (_drop, _extra) in _LANG_EXT.items():
    _base = VOCABS["english"]
    if _drop:
        _base = "".join(c for c in _base if c not in set(_drop))
    VOCABS[_lang] = _base + _extra

# Non-Latin working vocabs, composed by the reference's rule with the
# glyph code space's 7-bit budget (reference vocabs.py:456-461 greek,
# :398-447 cyrillic family): base letters + digits + punctuation, plus
# the common precomposed accents where they fit.
GREEK_LETTERS = "αβγδεζηθικλμνξοπρςστυφχψωΑΒΓΔΕΖΗΘΙΚΛΜΝΞΟΠΡΣΤΥΦΧΨΩ"
GREEK_ACCENTED = "άέήίόύώΆΈΉΊΌΎΏ"
VOCABS["greek"] = DIGITS + PUNCTUATION + GREEK_LETTERS + GREEK_ACCENTED

CYRILLIC_LETTERS = (
    "абвгдежзийклмнопрстуфхцчшщъыьэюя" "АБВГДЕЖЗИЙКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯ"
)
VOCABS["cyrillic"] = DIGITS + PUNCTUATION + CYRILLIC_LETTERS + "ёЁ"
VOCABS["russian"] = VOCABS["cyrillic"]

# Arabic composite, the reference's composition order (vocabs.py:480-489:
# digits + arabic digits + arabic letters + persian letters + diacritics
# + arabic punctuation + punctuation; 116 chars, fits the 7-bit budget)
ARABIC_DIGITS = "٠١٢٣٤٥٦٧٨٩"
ARABIC_LETTERS = "ءآأؤإئابةتثجحخدذرزسشصضطظعغـفقكلمنهوىيٱ"
PERSIAN_LETTERS = "پچژڢڤگکی"
ARABIC_DIACRITICS = "ًٌٍَُِّْٕٓٔٚ"
ARABIC_PUNCTUATION = "؟؛«»—،"
VOCABS["arabic"] = (
    DIGITS
    + ARABIC_DIGITS
    + ARABIC_LETTERS
    + PERSIAN_LETTERS
    + ARABIC_DIACRITICS
    + ARABIC_PUNCTUATION
    + PUNCTUATION
)
VOCABS["persian"] = VOCABS["arabic"]

# RTL RENDER vocab for mixed Hebrew+Arabic pages (the RTL fixture): both
# consonant cores + both digit sets + punctuation, 117 chars — the render
# vocab must fit the 7-bit glyph code space, so the diacritics stay out
# (the reference render font does not model them either)
VOCABS["rtl"] = DIGITS + PUNCTUATION + HEBREW_CONSONANTS + ARABIC_LETTERS + ARABIC_DIGITS

DEFAULT_VOCAB = VOCABS["french"]

# CTC blank index convention follows the reference CRNN postprocessor:
# blank = len(vocab) (`doctr/models/recognition/crnn/pytorch.py:93`).
def blank_index(vocab: str = DEFAULT_VOCAB) -> int:
    return len(vocab)


_CHAR_TO_IDX = {c: i for i, c in enumerate(DEFAULT_VOCAB)}

UNKNOWN_CHAR = "■"


def translate(input_string: str, vocab_name: str, unknown_char: str = UNKNOWN_CHAR) -> str:
    """Fold a string into a vocabulary (reference `datasets/utils.py:35-66`):
    whitespace is dropped, out-of-vocab characters are NFD-decomposed and
    ASCII-folded (é -> e, ł has no decomposition), and anything still
    unmappable becomes ``unknown_char``. Pure stdlib (`unicodedata`) — the
    reference uses the same mechanism."""
    import string as _string
    import unicodedata

    if VOCABS.get(vocab_name) is None:
        raise KeyError("output vocabulary must be in vocabs dictionary")
    vocab = VOCABS[vocab_name]
    out = []
    for char in input_string:
        if char not in vocab:
            if char in _string.whitespace:
                continue
            char = unicodedata.normalize("NFD", char).encode("ascii", "ignore").decode("ascii")
            if char == "" or char not in vocab:
                char = unknown_char
        out.append(char)
    return "".join(out)


def ascii_fold_pairs(accents: str = LATIN1_ACCENTS) -> tuple[str, str]:
    """(src, dst) character-translation strings mapping each accented char
    to its NFD base — DERIVED from :func:`translate` so the native
    ``translate(col, src, dst)`` expression both engines run at scale is
    provably the same fold as the per-char NFD kernel."""
    return accents, "".join(translate(c, "latin") for c in accents)


def encode_string(value: str, vocab: str = DEFAULT_VOCAB) -> list[int]:
    """Map a string to vocab indices (reference `datasets/utils.py:75-96`).

    Raises on out-of-vocab characters — the synthetic generators only emit
    vocab characters, so an OOV here is a bug, not data noise.
    """
    if vocab is DEFAULT_VOCAB:
        table = _CHAR_TO_IDX
    else:
        table = {c: i for i, c in enumerate(vocab)}
    try:
        return [table[c] for c in value]
    except KeyError as e:
        raise ValueError(f"character {e} not in vocab") from e


def decode_sequence(indices, vocab: str = DEFAULT_VOCAB) -> str:
    """Map vocab indices back to a string (reference `datasets/utils.py:99-119`)."""
    return "".join(vocab[int(i)] for i in indices)

