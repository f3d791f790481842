"""Deterministic language identification (SPEC.md §5): stopword-profile
marker sets for Latin-script languages + Unicode script-range counts for
non-Latin scripts.

Replaces the reference's langdetect calls
(/root/reference/text_extractor.py:480-488,751-759,1076-1084) — langdetect
is seed-unstable, so the engine and the test oracle share this SPEC (not
this code) to make the equality gate meaningful. ``'unknown'`` fallback
semantics preserved from text_extractor.py:1076-1084. Breadth (r2-r4
VERDICT gap #2) now matches langdetect's 55-language coverage:
32 Latin-script stopword profiles + 16 script-detected languages + 7
script-sharing languages split by distinctive markers (55 total; vs
langdetect's profile list this trades zh-cn/zh-tw for one zh plus ms,
which langdetect lacks).

Scoring is ONE uniform rule so every tier (this kernel, the codegen'd SQL
twin in operators/textstats.py, the DuckDB oracle) can reproduce it:
each language has a marker count — stopword-token hits for Latin-script
languages, characters inside the script's Unicode ranges for script
languages, a distinctive-pattern count for script-SHARING languages
(uk/mk/bg over Cyrillic, fa over Arabic with ur chained on fa, mr/ne
over Devanagari, and Japanese kana over Han) which additionally absorbs
the base script's count iff it is ≥ 2 (see BOOSTS) — and the result is
the argmax if the max is ≥ 2, ties broken alphabetically, else
'unknown'.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from collections import Counter

# Ḁ-ỿ (U+1E00-U+1EFF, Latin Extended Additional) covers the Vietnamese
# tone-marked vowels that À-ɏ misses — "được" would otherwise split.
_TOKEN_RE = re.compile(r"[a-zA-ZÀ-ɏḀ-ỿ]+")

# Disjoint marker sets — SPEC.md §5 (no word in two languages). Words are
# chosen to START and END with an ASCII letter: the SQL tier counts
# \b-bounded hits and \b is ASCII-word-based in both Java regex and RE2,
# so an accent-final word (più, não) would silently never match there.
# Interior accents (für, più→NO, también) are fine.
STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset(
        "the and is are was were this that with for have has not you "
        "they from but what all can".split()
    ),
    "es": frozenset(
        "el los las una por con para como pero más este esta ser hay "
        "muy sin sobre también hasta donde".split()
    ),
    "fr": frozenset(
        "le les des une est dans qui pas sur vous nous avec pour cette "
        "mais ont aux ses fait aussi".split()
    ),
    "de": frozenset(
        "der die das und ist nicht ein eine mit auf sich auch werden "
        "wird bei nach aber aus durch dem".split()
    ),
    "it": frozenset(
        "di che per sono della nel alla gli anche dopo questo quando "
        "essere stato ogni".split()
    ),
    "pt": frozenset(
        "um uma foi dos ela ele seu sua pelo isso quem depois apenas "
        "ainda onde".split()
    ),
    "nl": frozenset(
        "het van een voor niet zijn hebben wordt naar ook deze onze "
        "hun maar nog".split()
    ),
    "pl": frozenset(
        "nie jest jak przez tylko jego bardzo jako oraz ale przy gdy "
        "czy lub także".split()
    ),
    "sv": frozenset(
        "och att det som av den inte har ett om man efter för eller "
        "mycket".split()
    ),
    "tr": frozenset(
        "bir ve bu için ile olarak daha sonra kadar gibi ancak olan "
        "her ama değil".split()
    ),
    "id": frozenset(
        "yang dan dengan untuk dari ini itu tidak akan pada juga "
        "adalah bisa sudah telah".split()
    ),
    "vi": frozenset(
        "của không người trong cũng những việc một này khi nhưng với "
        "làm năm theo".split()
    ),
    "ro": frozenset(
        "sunt pentru acest aceasta dintre fiecare foarte atunci numai "
        "acum către".split()
    ),
    "cs": frozenset(
        "jsou jsem bylo tento tato pouze velmi nebo proto aby mezi "
        "podle".split()
    ),
    "da": frozenset(
        "hvad hvordan hvilket noget meget være bliver hvis derfor ikke "
        "denne".split()
    ),
    "fi": frozenset(
        "mutta kanssa jossa kuitenkin ovat voidaan olla niin myös kun "
        "jotka".split()
    ),
    "hu": frozenset(
        "hogy nem egy volt mint csak vagy azonban minden ezek még "
        "már".split()
    ),
    # --- tier 3 (r3 VERDICT gap #2): ms-vs-id split + two more Latin
    # profiles. Marker words are chosen to be ABSENT from the sibling
    # language's formal register (ms "kerana" vs id "karena"), but the
    # siblings share most vocabulary — colloquial overlap can leak a few
    # hits; the sibling's own marker count dominates on real prose.
    "ms": frozenset(
        "kerana selepas ialah sahaja boleh awak hendak pula".split()
    ),
    "ca": frozenset(
        "amb els dels aquest aquesta fins doncs seva molts "
        "aquestes".split()
    ),
    "hr": frozenset(
        "koji koja koje kao samo nije kada zbog prema".split()
    ),
    # --- tier 4 (r4 VERDICT gap #2 → langdetect parity, 55 languages):
    # twelve more Latin profiles. Same sibling caveat as tier 3: markers
    # are chosen to be absent from the close sibling's FORMAL register
    # (no "hva/mye/noen" vs da "hvad/meget/nogen", sk "iba/alebo/medzi"
    # vs cs "pouze/nebo/mezi", af "hierdie/baie" vs nl "deze/veel"),
    # but shared colloquial vocabulary can leak single hits — the
    # sibling's own marker count dominates on real prose.
    "no": frozenset(
        "hva noen mye ble enn noe dere etter vært måte gjøre "
        "skjer".split()
    ),
    "et": frozenset(
        "ning kuid ainult samuti veel selle nagu aga seda "
        "olema".split()
    ),
    # lv note: markers must also not be PREFIXES of common same-language
    # words whose continuation is a non-ASCII letter ("vēl" → "vēlāk"):
    # ASCII-\b fires at that letter, so the SQL tier would count a hit
    # the kernel's letters-tokenizer does not (r5 review finding)
    "lv": frozenset(
        "kas bija tikai savu bet tomēr tika tiek gada lai".split()
    ),
    "lt": frozenset(
        "yra kad kaip taip savo buvo gali labai apie kurie".split()
    ),
    "sk": frozenset(
        "ako iba bolo pretože alebo medzi veľmi podľa aj ešte "
        "tejto".split()
    ),
    "sl": frozenset(
        "tudi lahko ker vendar zelo kot tega katere morda".split()
    ),
    "af": frozenset(
        "baie hulle vir oor sal egter hierdie daardie geword "
        "wees".split()
    ),
    "sw": frozenset(
        "katika kwamba lakini pia sana wakati hivyo kuhusu bila "
        "yake".split()
    ),
    "tl": frozenset(
        "ang mga ito hindi naman lamang kanyang ngayon dahil "
        "upang".split()
    ),
    "cy": frozenset(
        "mae wedi gyda ond hefyd iawn bod eich ddim roedd".split()
    ),
    "sq": frozenset(
        "dhe nga kemi duke edhe vetëm pasi tjetër sipas kjo".split()
    ),
    "so": frozenset(
        "waxaa iyo inuu kale sida laga wuxuu ayaa soo "
        "markaas".split()
    ),
}

# Script-range marker languages: count of characters inside the ranges.
# Japanese is kana-only here; detect adds the Han count when kana ≥ 2
# (see module docstring). Ranges are the core blocks only — deliberately
# narrow so a stray typographic character can't mislabel a document.
SCRIPTS: dict[str, tuple[tuple[int, int], ...]] = {
    "ar": ((0x0600, 0x06FF),),                    # Arabic
    "bn": ((0x0980, 0x09FF),),                    # Bengali
    "el": ((0x0370, 0x03FF),),                    # Greek
    "gu": ((0x0A80, 0x0AFF),),                    # Gujarati
    "he": ((0x0590, 0x05FF),),                    # Hebrew
    "hi": ((0x0900, 0x097F),),                    # Devanagari
    "ja": ((0x3040, 0x30FF),),                    # Hiragana + Katakana
    "kn": ((0x0C80, 0x0CFF),),                    # Kannada
    "ko": ((0x1100, 0x11FF), (0xAC00, 0xD7AF)),   # Hangul jamo + syllables
    "ml": ((0x0D00, 0x0D7F),),                    # Malayalam
    "pa": ((0x0A00, 0x0A7F),),                    # Gurmukhi (Punjabi)
    "ru": ((0x0400, 0x04FF),),                    # Cyrillic
    "ta": ((0x0B80, 0x0BFF),),                    # Tamil
    "te": ((0x0C00, 0x0C7F),),                    # Telugu
    "th": ((0x0E00, 0x0E7F),),                    # Thai
    "zh": ((0x4E00, 0x9FFF),),                    # CJK Unified (Han)
}

# Script-SHARING languages (tier 3): each is detected by a distinctive
# marker PATTERN counted on the lowered text (plain regex — Java regex
# and RE2 read every construct here identically), and its score is that
# count PLUS the base script language's count iff the count is ≥ 2 (the
# generalization of the long-standing Japanese kana/Han rule): the
# distinctive markers prove the language, the shared-script mass then
# outvotes the base. The base language's text contains (essentially)
# none of the markers, so it never gets boosted away.
#   uk: і/є/ї/ґ exist in Ukrainian but not Russian or Bulgarian
#       (Belarusian also uses і — be stays out of scope, documented).
#   mk: ѓ/ќ/ѕ are Macedonian-only among the supported set.
#   bg: Bulgarian has no unique LETTERS vs Russian; the masculine
#       definite article 'ът' and high-frequency function words are
#       effectively absent from Russian (ъ precedes iotated vowels
#       there, never т).
#   fa: Persian-only letters پ چ ژ گ + Persian yeh ی / keheh ک (Arabic
#       uses ي/ك; Urdu shares these — ur stays out of scope, documented).
#   ur (tier 4): Urdu's script is a SUPERSET of Persian's (it uses all
#       the fa letters پ چ ژ گ ک ی), so there is no Persian-only letter
#       to split on from fa's side. Urdu-only letters DO exist — the
#       retroflexes ٹ ڈ ڑ, noon ghunna ں and barree yeh ے never appear
#       in Persian — so ur CHAINS on fa: its boost base is fa, whose
#       score already absorbed ar. Urdu prose (≥2 retroflex/ghunna/
#       barree chars, always true) then scores ur_markers + fa_score >
#       fa_score, while Persian and Arabic text contain none of the ur
#       markers. ORDER MATTERS for the chain: every tier that folds
#       BOOSTS (this kernel, textstats.lang_id_sql, the oracle builder)
#       iterates in insertion order and reads the base's
#       ALREADY-BOOSTED score, so fa must precede ur in this dict.
#   mr/ne (tier 4): Devanagari splits vs hi by distinctive function
#       words counted as SUBSTRINGS (\b is useless outside ASCII):
#       आहे/आणि/म्हणून/त्यांनी/झाले are Marathi copula/conjunction forms
#       absent from Hindi; छन्/भएको/गर्न/लागि/गरेको likewise Nepali.
BOOSTS: dict[str, tuple[str, str]] = {
    "ja": ("zh", None),  # kana count comes from SCRIPTS, not a pattern
    "uk": ("ru", "[єіїґ]"),
    "mk": ("ru", "[ѓќѕ]"),
    "bg": ("ru", "ът|защото|обаче|според"),
    "fa": ("ar", "[پچژگکی]"),
    "ur": ("fa", "[ٹڈڑںے]"),  # MUST follow fa (chained boost)
    "mr": ("hi", "आहे|आणि|म्हणून|त्यांनी|झाले"),
    "ne": ("hi", "छन्|भएको|गर्न|लागि|गरेको"),
}

# ONE character class over every script range finds all script characters
# in a single pass; a bisect over the sorted range starts then names the
# script of each distinct hit (the ranges are disjoint). This runs per
# document inside the extraction kernel's hot path.
_RANGES = sorted((lo, hi, lang) for lang, ranges in SCRIPTS.items()
                 for lo, hi in ranges)
_RANGE_STARTS = [lo for lo, _, _ in _RANGES]
_RANGE_LANGS = [lang for _, _, lang in _RANGES]
_SCRIPT_RE = re.compile(
    "[" + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi, _ in _RANGES) + "]")
_BOOST_RES: dict[str, re.Pattern] = {
    lang: re.compile(pat) for lang, (_, pat) in BOOSTS.items()
    if pat is not None
}
# any character at or above U+0370, where every script range and boost
# pattern lies
_ABOVE_U036F_RE = re.compile("[^\x00-\u036f]")

_MIN_HITS = 2

# inverted stopword index: token -> languages claiming it. Scoring all 32
# Latin profiles is then one set intersection of the document's distinct
# tokens with this index (C-speed) instead of a membership scan per
# profile; this runs per turn inside the extraction kernel's hot path.
_STOP_LANGS: dict[str, tuple[str, ...]] = {}
for _lang, _words in STOPWORDS.items():
    for _w in _words:
        _STOP_LANGS[_w] = _STOP_LANGS.get(_w, ()) + (_lang,)


def detect_language(text: str) -> str:
    """argmax of marker counts (stopword hits for Latin profiles, script
    chars for script profiles, distinctive-pattern counts boosted by the
    shared-script base iff ≥ 2 — see BOOSTS), ties alphabetical,
    max < 2 → 'unknown'."""
    if not text:
        return "unknown"
    lowered = text.lower()
    scores: dict[str, int] = {}
    # every script range and boost pattern lies at or above U+0370 (and
    # no character in a script range lowercases below it), so text whose
    # lowered form stays below U+0370 — ASCII and Latin-script prose, the
    # overwhelming transcript case — scores 0 on all of them: isascii()
    # (O(1)) and one stop-at-first-hit search gate the script and boost
    # scans
    if not lowered.isascii() and _ABOVE_U036F_RE.search(lowered):
        for ch, n in Counter(_SCRIPT_RE.findall(text)).items():
            lang = _RANGE_LANGS[bisect_right(_RANGE_STARTS, ord(ch)) - 1]
            scores[lang] = scores.get(lang, 0) + n
        for lang, rx in _BOOST_RES.items():
            scores[lang] = len(rx.findall(lowered))
        for lang, (base, _) in BOOSTS.items():
            if scores.get(lang, 0) >= _MIN_HITS:
                scores[lang] += scores.get(base, 0)
    tokens = Counter(_TOKEN_RE.findall(lowered))
    for tok in tokens.keys() & _STOP_LANGS.keys():
        for lang in _STOP_LANGS[tok]:
            scores[lang] = scores.get(lang, 0) + tokens[tok]
    best_lang, best_hits = "unknown", 0
    for lang in sorted(scores):
        if scores[lang] > best_hits:
            best_lang, best_hits = lang, scores[lang]
    return best_lang if best_hits >= _MIN_HITS else "unknown"
