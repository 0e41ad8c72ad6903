"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure column expressions (JVM codegen, no UDFs)
with exact DuckDB-SQL twins driven by the same constants.

Language ID is the standard character-n-gram approach (Cavnar & Trenkle '94
family, simplified to distinctive-trigram hit counts so the scorer is one
regexp_count per language in BOTH engines) over 16 Latin-script languages,
plus Unicode-script detection for 9 non-Latin ones. Profiles are learned at
import time from the embedded seed corpus — fully deterministic, no model
files. tests/test_langid.py measures accuracy on held-out labeled text.
"""

from __future__ import annotations

import re as _re

from collections import Counter as _Counter

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import (
    H32_MOD, MERSENNE_P, affine_hash, minhash_params, portable_hash32,
    sql_affine_hash, sql_hash32, sql_tokens, sql_word_shingles, tokens,
    word_shingles)

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def round6(col):
    """6-decimal rounding as floor(x*1e6 + 0.5)/1e6 — the SAME double ops
    in Spark and the DuckDB twins (sql_round6), so results are
    bit-identical. Engine-native round() differs on boundary values:
    Spark's BigDecimal-HALF_UP on the shortest decimal repr vs DuckDB's
    multiply-and-round can split a x.xxx1875-style score between
    ...187 and ...188 (seen in the o32 gate). Non-negative inputs only."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def sql_round6(expr: str) -> str:
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"

# -- language-ID model (deterministic, embedded) -----------------------------

# Seed text per Latin-script language: short everyday prose, heavy on
# function words (the signal trigram LID keys on). Held-out test sentences
# live in tests/test_langid.py.
LATIN_SEEDS: list[tuple[str, str]] = [
    ("en", "the quick brown fox jumps over the lazy dog and then it runs "
           "away. this is the house that we have seen before. what do you "
           "think about the weather today? i did not know that they would "
           "come here with all of their friends. we went to the market this "
           "morning to buy some bread and cheese for breakfast. the "
           "children are playing in the garden while their mother is "
           "cooking in the kitchen. he told me that he would be late "
           "because of the rain. it is one of the most beautiful places "
           "that i have ever seen. people often say that time goes by very "
           "quickly. she has been working in the city for many years and "
           "she likes it there."),
    ("de", "der schnelle braune fuchs springt über den faulen hund und "
           "läuft dann weg. das ist das haus das wir schon gesehen haben. "
           "was denkst du über das wetter heute? ich habe nicht gewusst "
           "dass sie mit allen ihren freunden kommen würden. wir sind heute "
           "morgen auf den markt gegangen um brot und käse für das "
           "frühstück zu kaufen. die kinder spielen im garten während die "
           "mutter in der küche kocht. er hat mir gesagt dass er wegen des "
           "regens zu spät kommen würde. es ist einer der schönsten orte "
           "die ich je gesehen habe. die leute sagen oft dass die zeit sehr "
           "schnell vergeht. sie arbeitet seit vielen jahren in der stadt "
           "und es gefällt ihr dort."),
    ("fr", "le renard brun rapide saute par dessus le chien paresseux et "
           "puis il part. voici la maison que nous avons déjà vue. que "
           "penses tu du temps aujourd'hui? je ne savais pas qu'ils "
           "viendraient ici avec tous leurs amis. nous sommes allés au "
           "marché ce matin pour acheter du pain et du fromage pour le "
           "petit déjeuner. les enfants jouent dans le jardin pendant que "
           "leur mère cuisine dans la cuisine. il m'a dit qu'il serait en "
           "retard à cause de la pluie. c'est l'un des plus beaux endroits "
           "que j'aie jamais vus. les gens disent souvent que le temps "
           "passe très vite. elle travaille dans la ville depuis de "
           "nombreuses années et elle s'y plaît."),
    ("es", "el rápido zorro marrón salta sobre el perro perezoso y luego se "
           "escapa. esta es la casa que ya hemos visto. qué piensas del "
           "tiempo de hoy? no sabía que iban a venir aquí con todos sus "
           "amigos. fuimos al mercado esta mañana para comprar pan y queso "
           "para el desayuno. los niños juegan en el jardín mientras su "
           "madre cocina en la cocina. me dijo que llegaría tarde a causa "
           "de la lluvia. es uno de los lugares más hermosos que he visto "
           "jamás. la gente dice a menudo que el tiempo pasa muy rápido. "
           "ella trabaja en la ciudad desde hace muchos años y le gusta "
           "mucho."),
    ("pt", "a rápida raposa marrom salta sobre o cão preguiçoso e depois "
           "foge. esta é a casa que já vimos antes. o que você acha do "
           "tempo hoje? eu não sabia que eles viriam para cá com todos os "
           "seus amigos. fomos ao mercado esta manhã para comprar pão e "
           "queijo para o café da manhã. as crianças brincam no jardim "
           "enquanto a mãe cozinha na cozinha. ele me disse que chegaria "
           "atrasado por causa da chuva. é um dos lugares mais bonitos que "
           "eu já vi. as pessoas costumam dizer que o tempo passa muito "
           "rápido. ela trabalha na cidade há muitos anos e gosta muito de "
           "lá."),
    ("it", "la veloce volpe marrone salta sopra il cane pigro e poi scappa "
           "via. questa è la casa che abbiamo già visto. cosa pensi del "
           "tempo di oggi? non sapevo che sarebbero venuti qui con tutti i "
           "loro amici. siamo andati al mercato questa mattina per comprare "
           "pane e formaggio per la colazione. i bambini giocano in "
           "giardino mentre la madre cucina in cucina. mi ha detto che "
           "sarebbe arrivato in ritardo a causa della pioggia. è uno dei "
           "posti più belli che abbia mai visto. la gente dice spesso che "
           "il tempo passa molto in fretta. lei lavora in città da molti "
           "anni e le piace molto."),
    ("nl", "de snelle bruine vos springt over de luie hond en rent dan weg. "
           "dit is het huis dat we al eerder hebben gezien. wat vind je van "
           "het weer vandaag? ik wist niet dat ze met al hun vrienden "
           "zouden komen. we zijn vanochtend naar de markt gegaan om brood "
           "en kaas te kopen voor het ontbijt. de kinderen spelen in de "
           "tuin terwijl hun moeder in de keuken kookt. hij zei me dat hij "
           "te laat zou komen vanwege de regen. het is een van de mooiste "
           "plekken die ik ooit heb gezien. mensen zeggen vaak dat de tijd "
           "erg snel gaat. zij werkt al vele jaren in de stad en het bevalt "
           "haar daar goed."),
    ("sv", "den snabba bruna räven hoppar över den lata hunden och springer "
           "sedan iväg. det här är huset som vi har sett förut. vad tycker "
           "du om vädret idag? jag visste inte att de skulle komma hit med "
           "alla sina vänner. vi gick till marknaden i morse för att köpa "
           "bröd och ost till frukosten. barnen leker i trädgården medan "
           "deras mamma lagar mat i köket. han sa till mig att han skulle "
           "bli sen på grund av regnet. det är en av de vackraste platser "
           "jag någonsin har sett. folk säger ofta att tiden går väldigt "
           "fort. hon har arbetat i staden i många år och hon trivs där."),
    ("da", "den hurtige brune ræv springer over den dovne hund og løber "
           "derefter væk. det er det hus som vi har set før. hvad synes du "
           "om vejret i dag? jeg vidste ikke at de ville komme herhen med "
           "alle deres venner. vi gik på markedet i morges for at købe brød "
           "og ost til morgenmaden. børnene leger i haven mens deres mor "
           "laver mad i køkkenet. han sagde til mig at han ville komme for "
           "sent på grund af regnen. det er et af de smukkeste steder jeg "
           "nogensinde har set. folk siger ofte at tiden går meget hurtigt. "
           "hun har arbejdet i byen i mange år og hun er glad for det."),
    ("pl", "szybki brązowy lis przeskakuje nad leniwym psem a potem ucieka. "
           "to jest dom który już widzieliśmy. co myślisz o dzisiejszej "
           "pogodzie? nie wiedziałem że przyjdą tutaj ze wszystkimi swoimi "
           "przyjaciółmi. poszliśmy dziś rano na rynek żeby kupić chleb i "
           "ser na śniadanie. dzieci bawią się w ogrodzie podczas gdy ich "
           "matka gotuje w kuchni. powiedział mi że spóźni się z powodu "
           "deszczu. to jedno z najpiękniejszych miejsc jakie kiedykolwiek "
           "widziałem. ludzie często mówią że czas płynie bardzo szybko. "
           "ona pracuje w mieście od wielu lat i bardzo jej się tam podoba."),
    ("cs", "rychlá hnědá liška skáče přes líného psa a pak utíká pryč. "
           "tohle je dům který jsme už viděli. co si myslíš o dnešním "
           "počasí? nevěděl jsem že sem přijdou se všemi svými přáteli. šli "
           "jsme dnes ráno na trh koupit chleba a sýr ke snídani. děti si "
           "hrají na zahradě zatímco jejich matka vaří v kuchyni. řekl mi "
           "že přijde pozdě kvůli dešti. je to jedno z nejkrásnějších míst "
           "jaké jsem kdy viděl. lidé často říkají že čas běží velmi "
           "rychle. pracuje ve městě už mnoho let a moc se jí tam líbí."),
    ("tr", "hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve sonra "
           "kaçar. bu daha önce gördüğümüz ev. bugünkü hava hakkında ne "
           "düşünüyorsun? bütün arkadaşlarıyla buraya geleceklerini "
           "bilmiyordum. bu sabah kahvaltı için ekmek ve peynir almak üzere "
           "pazara gittik. çocuklar bahçede oynarken anneleri mutfakta "
           "yemek yapıyor. bana yağmur yüzünden geç kalacağını söyledi. "
           "şimdiye kadar gördüğüm en güzel yerlerden biri. insanlar "
           "zamanın çok hızlı geçtiğini söylerler. yıllardır şehirde "
           "çalışıyor ve orayı çok seviyor."),
    ("ro", "vulpea maro rapidă sare peste câinele leneș și apoi fuge. "
           "aceasta este casa pe care am văzut o deja. ce părere ai despre "
           "vremea de azi? nu știam că vor veni aici cu toți prietenii lor. "
           "am mers la piață în această dimineață să cumpărăm pâine și "
           "brânză pentru micul dejun. copiii se joacă în grădină în timp "
           "ce mama lor gătește în bucătărie. mi-a spus că va întârzia din "
           "cauza ploii. este unul dintre cele mai frumoase locuri pe care "
           "le-am văzut vreodată. oamenii spun adesea că timpul trece "
           "foarte repede. ea lucrează în oraș de mulți ani și îi place "
           "foarte mult acolo."),
    ("fi", "nopea ruskea kettu hyppää laiskan koiran yli ja juoksee sitten "
           "pois. tämä on se talo jonka olemme nähneet aiemmin. mitä mieltä "
           "olet tämän päivän säästä? en tiennyt että he tulevat tänne "
           "kaikkien ystäviensä kanssa. menimme tänä aamuna torille "
           "ostamaan leipää ja juustoa aamiaiseksi. lapset leikkivät "
           "puutarhassa sillä aikaa kun heidän äitinsä laittaa ruokaa "
           "keittiössä. hän sanoi minulle että hän myöhästyy sateen takia. "
           "se on yksi kauneimmista paikoista jotka olen koskaan nähnyt. "
           "ihmiset sanovat usein että aika kuluu hyvin nopeasti. hän on "
           "työskennellyt kaupungissa monta vuotta ja viihtyy siellä."),
    ("hu", "a gyors barna róka átugrik a lusta kutya fölött és aztán "
           "elszalad. ez az a ház amit már láttunk. mit gondolsz a mai "
           "időjárásról? nem tudtam hogy az összes barátjukkal együtt "
           "jönnek ide. ma reggel elmentünk a piacra hogy kenyeret és "
           "sajtot vegyünk reggelire. a gyerekek a kertben játszanak "
           "miközben az anyjuk a konyhában főz. azt mondta nekem hogy el "
           "fog késni az eső miatt. ez az egyik legszebb hely amit valaha "
           "láttam. az emberek gyakran mondják hogy az idő nagyon gyorsan "
           "telik. sok éve dolgozik a városban és nagyon szereti."),
    ("id", "rubah coklat yang cepat melompati anjing malas dan kemudian "
           "lari. ini adalah rumah yang sudah kami lihat. bagaimana "
           "pendapatmu tentang cuaca hari ini? saya tidak tahu bahwa mereka "
           "akan datang ke sini dengan semua teman mereka. kami pergi ke "
           "pasar pagi ini untuk membeli roti dan keju untuk sarapan. anak "
           "anak bermain di kebun sementara ibu mereka memasak di dapur. "
           "dia mengatakan kepada saya bahwa dia akan terlambat karena "
           "hujan. ini adalah salah satu tempat terindah yang pernah saya "
           "lihat. orang orang sering mengatakan bahwa waktu berjalan "
           "sangat cepat. dia telah bekerja di kota selama bertahun tahun "
           "dan sangat menyukainya."),
]

# Non-Latin scripts: (lang, literal char-range for a one-bracket regex that
# both Java regex and RE2 read identically). Priority-ordered: kana before
# han (Japanese text mixes both), hangul before han (rare hanja).
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("ja", "぀-ヿ"),   # hiragana + katakana
    ("ko", "가-힯"),   # hangul syllables
    ("zh", "一-鿿"),   # CJK unified ideographs
    ("ru", "Ѐ-ӿ"),   # cyrillic
    ("el", "Ͱ-Ͽ"),   # greek
    ("ar", "؀-ۿ"),   # arabic
    ("he", "֐-׿"),   # hebrew
    ("hi", "ऀ-ॿ"),   # devanagari
    ("th", "฀-๿"),   # thai
]

# Latin letters incl. the accented/extended blocks the seed languages use
LATIN_LETTER_RE = "[a-zà-ÿĀ-ɏ]"

# Curated near-unique markers per language (orthography facts: distinctive
# letters and top function words, chosen to avoid cross-language collisions
# — e.g. bare 'å' is NOT a Swedish marker because Danish shares it, Finnish
# shares 'ä' with Swedish so both carry it and their learned trigrams break
# the tie). Weighted far above learned trigrams.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " of ", " and "],
    "de": ["ß", "ü", " und ", " nicht ", " der ", " die ", " ist ", " zu "],
    "fr": ["ç", "œ", " et ", " est ", " les ", " dans ", " nous ", " vous "],
    "es": ["ñ", " y ", " los ", " el ", "ción", " las "],
    "pt": ["ã", "õ", " não ", " uma ", " com "],
    # " di " is deliberately in BOTH it and id (a real word in both): the
    # shared marker cancels between them and the rest decides
    "it": [" è ", " che ", "gli ", "zione", " più ", " della ", " sono ",
           " di "],
    "nl": ["ij ", "ijk", " het ", " een ", " van "],
    "sv": ["ä", "ö", " och ", " att ", " på "],
    "da": ["ø", "æ", " og ", " ikke ", " på "],
    "pl": ["ł", "ą", "ę", "ż", "ź", " się "],
    "cs": ["ř", "ě", "ů", " že "],
    "tr": ["ı", "ğ", "ş", " ve ", " bir "],
    "ro": ["ț", "ș", "ă", "â", " și "],
    "fi": ["ä", "ää", "äi", "ssä", " ja ", "ssa ", " on "],
    "hu": ["ő", "ű", " és ", " hogy ", " az ", " egy "],
    "id": [" yang ", " dan ", "nya ", " di ", " itu "],
}

PROFILE_TOP = 80        # trigrams considered per language
PROFILE_KEEP = 30       # trigrams kept per tier per language
PROFILE_MAX_DF = 5      # shared-tier trigrams may appear in up to this many
W_MARKER, W_UNIQ, W_SHARED = 10, 2, 1   # tier weights (tests/test_langid.py)
# below this best-score the Latin path answers 'und' (gibberish floor:
# one curated marker, or five unique trigrams — random Latin noise
# scores a stray trigram or two, real text clears it easily)
UND_MIN_SCORE = W_MARKER


def _char_trigrams(s: str) -> list[str]:
    s = " " + _re.sub(r"\s+", " ", s.strip().lower()) + " "
    return [s[i:i + 3] for i in range(len(s) - 2)]


def _build_profiles() -> list[tuple[str, list[str], list[str], list[str]]]:
    """(lang, curated markers, unique trigrams, shared trigrams): top seed
    trigrams split by cross-language document frequency — df==1 trigrams are
    strong evidence, df 2..MAX_DF weak evidence, above that dropped as
    generic. Pure counting — deterministic."""
    tops = [(lang, [t for t, _ in
                    _Counter(_char_trigrams(seed)).most_common(PROFILE_TOP)])
            for lang, seed in LATIN_SEEDS]
    df = _Counter(t for _, top in tops for t in set(top))
    return [(lang, LANG_MARKERS[lang],
             [t for t in top if df[t] == 1][:PROFILE_KEEP],
             [t for t in top if 2 <= df[t] <= PROFILE_MAX_DF][:PROFILE_KEEP])
            for lang, top in tops]


LANG_PROFILES: list[tuple[str, list[str], list[str], list[str]]] = \
    _build_profiles()

BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _marker_re(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count_cols(c) -> list:
    """The token_counts output expressions, reusable for fused profiles."""
    return [
        F.size(tokens(c)).cast("bigint").alias("ws_tokens"),
        F.regexp_count(c, F.lit(BPE_ISH_RE)).cast("bigint").alias("bpe_tokens"),
        F.length(c).cast("bigint").alias("n_chars"),
    ]


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + char count."""
    return df.select(F.col(id_col), *token_count_cols(F.col(text_col)))


def sql_token_counts(table: str, text_col: str, id_col: str) -> str:
    return (
        f"SELECT {id_col}, len({sql_tokens(text_col)})::BIGINT AS ws_tokens, "
        f"len(regexp_extract_all({text_col}, '{BPE_ISH_RE}'))::BIGINT AS bpe_tokens, "
        f"length({text_col})::BIGINT AS n_chars FROM {table}"
    )


def bpe_token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """TRUE byte-pair-encoding token counts (functions/bpe.py: the public
    Sennrich BPE with a deterministic import-time-learned merge table),
    replacing the BPE_ISH_RE approximation where real subword counts
    matter. Applied as an Arrow-batched pandas UDF — the one text operator
    that genuinely needs Python (iterative rank-order merges are not a
    column expression); per-word memoization makes the steady-state cost a
    dict lookup per word. Not SQL-expressible, so its gate check is the
    rows-only tier; the pytest oracle is an independent re-derivation
    (tests/test_bpe.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def n_bpe(texts: pd.Series) -> pd.Series:
        from ..functions.bpe import default_encoder
        enc = default_encoder()
        return texts.map(enc.count_tokens).astype("int64")

    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        n_bpe(c).alias("bpe_tokens"),
        F.size(tokens(c)).cast("bigint").alias("ws_tokens"),
    )


def _parse_char_ranges(spec: str) -> list[tuple[int, int]]:
    """'a-zà-ÿ' / '぀-ヿ' style range literal -> [(lo_cp, hi_cp), ...]."""
    out: list[tuple[int, int]] = []
    i = 0
    while i < len(spec):
        if i + 2 < len(spec) and spec[i + 1] == "-":
            out.append((ord(spec[i]), ord(spec[i + 2])))
            i += 3
        else:
            out.append((ord(spec[i]), ord(spec[i])))
            i += 1
    return out


SCRIPT_INTERVALS: list[tuple[str, list[tuple[int, int]]]] = [
    (lang, _parse_char_ranges(rng)) for lang, rng in SCRIPT_RANGES]
LATIN_INTERVALS: list[tuple[int, int]] = \
    _parse_char_ranges(LATIN_LETTER_RE.strip("[]"))


def _build_gram_table() -> list[tuple[str, str, int, int]]:
    """(gram, lang, weight, priority) — every profile pattern (curated
    marker, unique trigram, shared trigram) as one weighted row, weights
    pre-summed per (gram, lang); priority = LANG_PROFILES position (the
    argmax tie-break). ~700 rows — a broadcast dimension, not a plan
    literal fan."""
    acc: dict[tuple[str, str], int] = {}
    prio = {p[0]: i for i, p in enumerate(LANG_PROFILES)}
    for lang, markers, uniq, shared in LANG_PROFILES:
        for tier, w in ((markers, W_MARKER), (uniq, W_UNIQ), (shared, W_SHARED)):
            for g in tier:
                acc[(g, lang)] = acc.get((g, lang), 0) + w
    return sorted((g, l, w, prio[l]) for (g, l), w in acc.items())


GRAM_TABLE: list[tuple[str, str, int, int]] = _build_gram_table()
GRAM_LENGTHS: list[int] = sorted({len(g) for g, _, _, _ in GRAM_TABLE})


def _lang_norm_col(text_col: str):
    """Shared normalization: lower, collapse whitespace, pad one space each
    side so word-edge markers fire at string boundaries."""
    return F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.coalesce(F.col(text_col),
                                                   F.lit(""))),
                                r"\s+", " ")),
        F.lit(" "))


def _cp_in(cp, intervals: list[tuple[int, int]]):
    cond = F.lit(False)
    for lo, hi in intervals:
        cond = cond | ((cp >= F.lit(lo)) & (cp <= F.lit(hi)))
    return cond


def _script_count(cps, intervals: list[tuple[int, int]]):
    """One-arg lambda via closure: PySpark inspects lambda arity, so a
    defaulted second argument would be (mis)read as the array index."""
    return F.size(F.filter(cps, lambda cp: _cp_in(cp, intervals)))


def _gram_rows(norm: DataFrame, id_col: str) -> DataFrame:
    """(id, gram) — one row per (position, profile-length) window of the
    normalized text column ``_t``. Formulated as two Generate stages with
    plain substring projections so the whole fan-out stays inside
    WholeStageCodegen: higher-order-function lambdas are interpreted
    per-element and measured ~10x slower here. Windows that would run past
    the end of the string come back truncated from substring; the length
    filter drops them (a truncated window must not alias a shorter
    tier's gram)."""
    lengths_arr = F.array(*[F.lit(L) for L in GRAM_LENGTHS])
    pos_rows = norm.select(
        F.col(id_col).alias("_id"), F.col("_t"),
        F.explode(F.sequence(F.lit(1), F.length("_t"))).alias("_pos"))
    win_rows = pos_rows.select(
        "_id",
        F.posexplode(F.array(*[
            F.substring(F.col("_t"), F.col("_pos"), F.lit(L))
            for L in GRAM_LENGTHS])).alias("_i", "gram"))
    return (win_rows
            .where(F.length("gram")
                   == F.element_at(lengths_arr, F.col("_i") + 1))
            .select("_id", "gram"))




PY_GRAM_LOOKUP: dict[str, list[tuple[int, str, int]]] = {}
for _g, _l, _w, _p in GRAM_TABLE:
    PY_GRAM_LOOKUP.setdefault(_g, []).append((_p, _l, _w))


def py_lang_score(text: str | None, max_chars: int | None = None) -> str:
    """Pure-Python twin of lang_id's per-document decision — same constants,
    same normalization, same all-positions window counting, same argmax
    tie-break. Serves two roles: the Arrow-batched scorer behind the
    STREAMING face of lang_id (per-row work, no aggregation, so append-mode
    streams stay legal), and an independent oracle for the declarative
    batch path (tests/test_langid.py pins batch == python on the held-out
    fixture). ``max_chars``: same normalized-prefix semantics as
    np_lang_pred."""
    t = " " + _re.sub(r"\s+", " ", (text or "").lower().strip()) + " "
    if max_chars is not None:
        t = t[:max_chars]
    lat = 0
    sc = [0] * len(SCRIPT_INTERVALS)
    for ch in t:
        cp = ord(ch)
        for i, (_, iv) in enumerate(SCRIPT_INTERVALS):
            if any(lo <= cp <= hi for lo, hi in iv):
                sc[i] += 1
        if any(lo <= cp <= hi for lo, hi in LATIN_INTERVALS):
            lat += 1
    if sum(sc) > lat:
        for i, (lang, _) in enumerate(SCRIPT_INTERVALS):
            if sc[i] > 0:
                return lang
    scores: dict[str, int] = {}
    prio: dict[str, int] = {}
    for L in GRAM_LENGTHS:
        for i in range(len(t) - L + 1):
            for p, l, w in PY_GRAM_LOOKUP.get(t[i:i + L], ()):
                scores[l] = scores.get(l, 0) + w
                prio[l] = p
    if not scores:
        return "und"
    lang, score = max(scores.items(),
                      key=lambda kv: (kv[1], -prio[kv[0]]))
    return lang if score >= UND_MIN_SCORE else "und"


_NP_LID_CACHE: dict | None = None


def _np_lid_tables() -> dict:
    """Precomputed numpy tables for the vectorized LID scorer — built once
    per process from the same constants as the declarative path."""
    global _NP_LID_CACHE
    if _NP_LID_CACHE is not None:
        return _NP_LID_CACHE
    import numpy as np

    # 8-bit alphabet remap: the 67 distinct gram characters (max cp 539)
    # get indices 0..66; every other code point maps to the sentinel 255,
    # so any window containing a non-gram character differs from every
    # table key in that byte — matching stays EXACT, no hashing.
    chars = sorted({ch for g, _, _, _ in GRAM_TABLE for ch in g})
    assert len(chars) <= 254
    alpha = np.full(65536, 255, dtype=np.uint8)
    for i, ch in enumerate(chars):
        alpha[ord(ch)] = i

    def key_of(g: str) -> int:
        k = 0
        for j, ch in enumerate(g):
            k |= int(alpha[ord(ch)]) << (8 * j)
        return k

    langs = [p[0] for p in LANG_PROFILES]
    lang_pos = {l: i for i, l in enumerate(langs)}
    prio = np.arange(len(langs), dtype=np.int64)  # table order IS priority

    per_len: dict[int, tuple] = {}
    for L in GRAM_LENGTHS:
        rows = [(key_of(g), lang_pos[l], w)
                for g, l, w, _ in GRAM_TABLE if len(g) == L]
        rows.sort()
        keys, counts, lidx, wts = [], [], [], []
        for k, li, w in rows:
            if not keys or keys[-1] != k:
                keys.append(k)
                counts.append(0)
            counts[-1] += 1
            lidx.append(li)
            wts.append(w)
        counts_a = np.asarray(counts, dtype=np.int64)
        per_len[L] = (np.asarray(keys, dtype=np.uint64),
                      np.concatenate(([0], np.cumsum(counts_a)))[:-1],
                      counts_a,
                      np.asarray(lidx, dtype=np.int64),
                      np.asarray(wts, dtype=np.int64))

    # flattened interval edges for the one-pass classifier: class i < n
    # scripts = SCRIPT_INTERVALS[i], class n = Latin. Intervals are
    # disjoint across classes (scripts vs Latin vs each other), so a
    # single sorted-lows searchsorted resolves the class per character.
    edges = []
    for i, (_, ivs) in enumerate(SCRIPT_INTERVALS):
        edges += [(lo, hi, i) for lo, hi in ivs]
    edges += [(lo, hi, len(SCRIPT_INTERVALS)) for lo, hi in LATIN_INTERVALS]
    edges.sort()
    _NP_LID_CACHE = {
        "alpha": alpha, "langs": np.asarray(langs, dtype=object),
        "prio": prio, "per_len": per_len,
        "script_langs": [lang for lang, _ in SCRIPT_INTERVALS],
        "script_ivs": [iv for _, iv in SCRIPT_INTERVALS],
        "latin_ivs": LATIN_INTERVALS,
        "iv_los": np.asarray([e[0] for e in edges], dtype=np.int64),
        "iv_his": np.asarray([e[1] for e in edges], dtype=np.int64),
        "iv_cls": np.asarray([e[2] for e in edges], dtype=np.int64),
    }
    return _NP_LID_CACHE


_NP_WS = _re.compile(r"\s+", _re.ASCII)  # Java \s == ASCII [ \t\n\x0B\f\r]


def np_lang_pred(texts, max_chars: int | None = None) -> "list[str]":
    """Vectorized batch LID — exact integer twin of the declarative
    lang_id (same normalization order: lower → collapse ASCII \\s+ →
    trim SPACE → pad; same all-windows gram scoring with every
    occurrence counted; same script-vs-Latin decision and
    (score, -priority) argmax; UND_MIN_SCORE floor). One pass of numpy
    over the whole Arrow batch: documents are concatenated with a \\x00
    separator (mapped to the non-gram sentinel, so windows crossing
    document boundaries can never match), windows of each profile length
    become uint64 keys via the 8-bit alphabet remap (8·7 = 56 bits), and
    matches resolve through one searchsorted against the ~1000-row gram
    table. ~200× the per-character Python twin's speed (py_lang_score:
    94 s vs <0.5 s for sf1's 22M chars, single-core).

    ``max_chars`` scores only the first max_chars characters of the
    NORMALIZED padded text (both the script decision and the gram
    scoring): the kernel is memory-bandwidth-bound under executor
    concurrency (solo 4.3 s vs 24 s/proc at 32-way on the same batch —
    measured r7), so truncation is the direct lever on the fused-profile
    scan cost. Same prefix semantics in every face: py twin t[:N], expr
    face substring(_t, 1, N), DuckDB twin substr(t, 1, N) — all
    code-point prefixes of the same normalized string."""
    import numpy as np

    t = _np_lid_tables()
    alpha = t["alpha"]
    norms = [" " + _NP_WS.sub(" ", (x or "").lower()).strip(" ") + " "
             for x in texts]
    if max_chars is not None:
        norms = [s[:max_chars] for s in norms]
    ndocs = len(norms)
    if ndocs == 0:
        return []
    lens = np.fromiter((len(s) for s in norms), dtype=np.int64,
                       count=ndocs)
    big = "\x00".join(norms)
    # int64 throughout: numpy's searchsorted/compare fast paths need
    # matching dtypes (mixed u32-vs-i64 measured 4.5x slower)
    cps = np.frombuffer(big.encode("utf-32-le"),
                        dtype=np.uint32).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens + 1)[:-1]))

    # script decision: classify every character in ONE searchsorted pass
    # over the flattened (disjoint) interval edges, then one bincount per
    # (doc, class) — separators are cp 0, outside every interval
    nscripts = len(t["script_ivs"])
    los, his, cls = t["iv_los"], t["iv_his"], t["iv_cls"]
    ii = np.searchsorted(los, cps, side="right") - 1
    iic = np.maximum(ii, 0)
    label = np.where((ii >= 0) & (cps <= his[iic]), cls[iic], nscripts + 1)
    doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), lens + 1)[:len(cps)]
    counts2d = np.bincount(doc_of * (nscripts + 2) + label,
                           minlength=ndocs * (nscripts + 2)) \
        .reshape(ndocs, nscripts + 2)
    sc = counts2d[:, :nscripts]
    latin = counts2d[:, nscripts]

    # gram scoring over the alphabet-mapped byte string
    a = alpha[np.minimum(cps, 65535)]
    a[cps > 65535] = 255
    n = len(a)
    scores = np.zeros((ndocs, len(t["langs"])), dtype=np.int64)
    prev_key = None  # incremental reuse: key_L = key_{L-1} | next byte
    prev_L = 0
    for L, (tkeys, offs, counts, lidx, wts) in sorted(
            t["per_len"].items()):
        if n < L:
            break
        if prev_key is None:
            key = a[:n - L + 1].astype(np.uint64)
            for j in range(1, L):
                key |= (a[j:n - L + 1 + j].astype(np.uint64)
                        << np.uint64(8 * j))
        else:
            key = prev_key[:n - L + 1]
            for j in range(prev_L, L):
                key = key | (a[j:n - L + 1 + j].astype(np.uint64)
                             << np.uint64(8 * j))
        prev_key, prev_L = key, L
        if not len(tkeys):
            continue
        pos = np.searchsorted(tkeys, key)
        posc = np.minimum(pos, len(tkeys) - 1)
        hitw = np.nonzero(tkeys[posc] == key)[0]
        if not len(hitw):
            continue
        g = posc[hitw]
        doci = np.searchsorted(starts, hitw, side="right") - 1
        reps = counts[g]
        docs_e = np.repeat(doci, reps)
        ent = np.repeat(offs[g], reps) + (
            np.arange(int(reps.sum())) - np.repeat(np.cumsum(reps) - reps,
                                                   reps))
        np.add.at(scores, (docs_e, lidx[ent]), wts[ent])

    # decision
    best_i = np.argmax(scores * 64 - t["prio"][None, :], axis=1)
    best_score = scores[np.arange(ndocs), best_i]
    latin_pred = np.where(best_score >= UND_MIN_SCORE,
                          t["langs"][best_i], "und")
    has_script = (sc > 0).any(axis=1)
    first_script = np.argmax(sc > 0, axis=1)
    script_names = np.asarray(t["script_langs"], dtype=object)
    script_pred = np.where(has_script, script_names[first_script], "und")
    use_script = sc.sum(axis=1) > latin
    return list(np.where(use_script, script_pred, latin_pred))


def lang_id(df: DataFrame, text_col: str, id_col: str,
            keep: list[str] | None = None,
            kernel: str = "expr",
            max_chars: int | None = None) -> DataFrame:
    """Character-trigram + script-range language ID over 25 languages —
    single-scan formulation (round 5; the previous version issued ~58
    regexp_count full-text passes per document, ~24% of the whole bench).

    1. Script decision: per-character code points (one split, no regex)
       counted against the SCRIPT_RANGES / Latin intervals via array
       filters — when script characters outnumber Latin letters, the first
       script (priority order: kana before han, hangul before han) with a
       nonzero count decides.
    2. Latin scoring: every substring window whose length occurs in the
       profile table (GRAM_LENGTHS) is exploded ONCE and equi-joined
       against the broadcast (gram, lang, weight) dimension — curated
       markers weigh W_MARKER, unique trigrams W_UNIQ, shared trigrams
       W_SHARED, every occurrence counted (overlaps included). Per-doc
       per-lang sums are combined map-side, so the shuffle carries at most
       one thin row per (doc, matched language); argmax wins, ties broken
       by LANG_PROFILES order, 'und' below UND_MIN_SCORE.

    At scale this is: one text scan for the script/keep projection, one
    text scan for the window explode (broadcast hash join, partial agg),
    one doc-keyed join of thin rows — versus 58 regex NFA passes. The
    DuckDB twin (sql_lang_id) is generated from the same constants, so
    results stay bit-comparable; held-out accuracy is pinned in
    tests/test_langid.py.

    `keep` columns pass through untouched so fused pipelines
    (document_profile) carry other per-row signals alongside.

    ``kernel="np"`` swaps in the vectorized Arrow scorer
    (np_lang_pred): the same integer scoring from the same constants —
    predictions are exactly equal (pinned on the gate corpus and the
    held-out fixture) — as a map-only scalar pandas UDF: no window
    explode, no join, NO SHUFFLE at all, ~50× the declarative path's
    core efficiency (sf1: ~600 core-seconds declarative vs 16 s
    single-core). The declarative face remains the default: it is the
    DuckDB-twin-generated oracle form.

    STREAMING input always takes the np face (map-only, append-safe):
    per-document scoring is per-row work, but the declarative
    formulation expresses it as a groupBy that unwatermarked append
    streams reject. Identical semantics from the same constants — the
    batch/stream parity test in tests/test_corpus.py cross-checks the two
    implementations.

    ``max_chars`` scores only that many characters of the NORMALIZED
    padded text — identical prefix semantics in every kernel and in the
    DuckDB twin (sql_lang_id must be generated with the same value)."""
    keep = keep or []
    if df.isStreaming or kernel == "np":
        from pyspark.sql.functions import pandas_udf

        # round 6: the streaming face is the np face — the vectorized
        # batch scorer (np_lang_pred), same map-only append-safe shape
        # as the py_lang_score face it replaces, exact same predictions
        # (pinned against both the python twin and the declarative
        # path), ~200× the per-character python loop's speed
        @pandas_udf("string")
        def _score(texts: pd.Series) -> pd.Series:
            return pd.Series(np_lang_pred(texts.tolist(), max_chars),
                             dtype="object")

        return df.select(F.col(id_col), *[F.col(k) for k in keep],
                         _score(F.col(text_col)).alias("pred_lang"))
    if kernel != "expr":
        raise ValueError(f"unknown lang_id kernel: {kernel!r}")
    # Materialize the normalized text (and its code-point array) as
    # ATTRIBUTES in their own projections before any higher-order function
    # touches them: a lambda body re-evaluates captured non-attribute
    # expressions PER ELEMENT, so windowing directly over the
    # regexp_replace expression re-normalized the text once per window
    # (~7 x n_chars times per document — measured 6x slower than the regex
    # fan it replaced). Reading a bound row field per element is free.
    norm_expr = _lang_norm_col(text_col)
    if max_chars is not None:
        norm_expr = F.substring(norm_expr, 1, max_chars)
    norm = df.select(F.col(id_col), *[F.col(k) for k in keep],
                     norm_expr.alias("_t"))
    withcps = norm.select(
        F.col(id_col), *[F.col(k) for k in keep],
        F.transform(F.split(F.col("_t"), ""),
                    lambda ch: F.ascii(ch)).alias("_cps"))
    cps = F.col("_cps")
    script_cols = [_script_count(cps, iv).alias(f"s_{lang}")
                   for lang, iv in SCRIPT_INTERVALS]
    latin = _script_count(cps, LATIN_INTERVALS).alias("s_latin")
    base = withcps.select(F.col(id_col), *[F.col(k) for k in keep],
                          latin, *script_cols)

    spark = df.sparkSession
    prof = spark.createDataFrame(
        GRAM_TABLE, "gram string, lang string, w int, prio int")
    # Window fan-out parallelism: a small compacted parquet input can
    # arrive as a single split (one row group), which would run the whole
    # ~|text| x |GRAM_LENGTHS| explode on one core. When the scan offers
    # fewer partitions than the cluster, spread the slim (id, _t)
    # projection first; at real scale the input already has >= cores
    # splits and this branch never fires.
    slim = norm.select(F.col(id_col), F.col("_t"))
    par = spark.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < par:
        slim = slim.repartition(par)
    grams = _gram_rows(slim, id_col)
    best = (grams.join(F.broadcast(prof), "gram")
            .groupBy("_id", "lang", "prio").agg(F.sum("w").alias("score"))
            .groupBy("_id")
            .agg(F.max(F.struct(F.col("score"),
                                (-F.col("prio")).alias("np"),
                                F.col("lang"))).alias("b"))
            .select("_id", F.col("b.lang").alias("_best_lang"),
                    F.col("b.score").alias("_best_score")))

    out = base.join(best, base[id_col] == best["_id"], "left")
    script_total = sum(F.col(f"s_{lang}") for lang, _ in SCRIPT_RANGES)
    script_pred = F.lit("und")
    for lang, _ in reversed(SCRIPT_RANGES):
        script_pred = F.when(F.col(f"s_{lang}") > 0,
                             F.lit(lang)).otherwise(script_pred)
    latin_pred = F.when(
        F.col("_best_score").isNotNull()
        & (F.col("_best_score") >= UND_MIN_SCORE),
        F.col("_best_lang")).otherwise(F.lit("und"))
    pred = F.when(script_total > F.col("s_latin"), script_pred) \
            .otherwise(latin_pred)
    return out.select(F.col(id_col), *[F.col(k) for k in keep],
                      pred.alias("pred_lang"))


def sql_lang_id(table: str, text_col: str, id_col: str,
                max_chars: int | None = None) -> str:
    """DuckDB twin of the single-scan lang_id, generated from the same
    constants: the same normalization, the same code-point interval script
    counts, the same window explode joined to the same profile VALUES
    table, the same (score DESC, priority ASC) argmax. ``max_chars``: the
    same normalized-prefix truncation as the Spark faces."""
    def q(s: str) -> str:
        return s.replace("'", "''")

    norm = (f"' ' || trim(regexp_replace(lower(coalesce({text_col}, '')), "
            f"'\\s+', ' ', 'g')) || ' '")
    if max_chars is not None:
        norm = f"substr({norm}, 1, {max_chars})"

    def cond(intervals: list[tuple[int, int]]) -> str:
        return " OR ".join(f"(cp >= {lo} AND cp <= {hi})"
                           for lo, hi in intervals)

    script_cols = ", ".join(
        f"len(list_filter(cps, cp -> {cond(iv)})) AS s_{lang}"
        for lang, iv in SCRIPT_INTERVALS)
    prof_vals = ", ".join(
        f"('{q(g)}', '{l}', {w}, {p})" for g, l, w, p in GRAM_TABLE)
    win_selects = " UNION ALL ".join(
        f"SELECT _id, substr(t, i::INT, {L}) AS gram FROM lang_norm, "
        f"LATERAL (SELECT unnest(range(1, greatest(len(t) - {L - 1}, 0) + 1)) "
        f"AS i) p"
        for L in GRAM_LENGTHS)
    script_total = " + ".join(f"s_{lang}" for lang, _ in SCRIPT_RANGES)
    script_case = "CASE " + " ".join(
        f"WHEN s_{lang} > 0 THEN '{lang}'" for lang, _ in SCRIPT_RANGES) \
        + " ELSE 'und' END"
    return f"""
      WITH lang_norm AS (
        SELECT {id_col} AS _id, {norm} AS t FROM {table}
      ),
      lang_prof(gram, lang, w, prio) AS (VALUES {prof_vals}),
      lang_script AS (
        SELECT _id, len(list_filter(cps, cp -> {cond(LATIN_INTERVALS)}))
                 AS s_latin, {script_cols}
        FROM (SELECT _id,
                     list_transform(string_split(t, ''), ch -> unicode(ch))
                       AS cps
              FROM lang_norm)
      ),
      lang_wins AS ({win_selects}),
      lang_scores AS (
        SELECT _id, lang, prio, sum(w) AS score
        FROM lang_wins JOIN lang_prof USING (gram)
        GROUP BY 1, 2, 3
      ),
      lang_best AS (
        SELECT _id, lang AS best_lang, score AS best_score
        FROM (SELECT *, row_number() OVER (
                PARTITION BY _id ORDER BY score DESC, prio ASC) AS rn
              FROM lang_scores)
        WHERE rn = 1
      )
      SELECT s._id AS {id_col},
             CASE WHEN ({script_total}) > s_latin THEN {script_case}
                  WHEN b.best_score >= {UND_MIN_SCORE} THEN b.best_lang
                  ELSE 'und' END AS pred_lang
      FROM lang_script s LEFT JOIN lang_best b USING (_id)"""


_ASCII_LETTERS = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                  "abcdefghijklmnopqrstuvwxyz")
_ASCII_ALNUM_WS = _ASCII_LETTERS + "0123456789" + " \t\n\x0b\x0c\r"


def quality_col(c):
    """The quality expression (see quality_score), reusable for fusion.

    The alpha/punct counts are `translate` char-map passes, not
    regexp_count: the classes are literal ASCII sets ([A-Za-z] and
    [^A-Za-z0-9\\s] with Java's ASCII \\s), so deleting the set's chars
    and differencing lengths counts them EXACTLY (asserted equal to the
    regex on the corpus) while skipping the per-match regex machinery —
    punct alone measured 13x faster (3.1 s -> 0.24 s at sf1), and these
    two counts were the heaviest slice of the fused document_profile
    scan. The DuckDB twin keeps the regex formulation."""
    n_tok = F.size(tokens(c)).cast("double")
    n_chars = F.length(c).cast("double")
    alpha = (F.length(c)
             - F.length(F.translate(c, _ASCII_LETTERS, ""))).cast("double")
    punct = F.length(F.translate(c, _ASCII_ALNUM_WS, "")).cast("double")
    stop = F.regexp_count(F.lower(c), F.lit(_marker_re(STOPWORDS))).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, F.least(stop / n_tok * 5.0, F.lit(1.0))) \
                  .otherwise(F.lit(0.0))
    punct_penalty = F.when(n_chars > 0, F.least(punct / n_chars * 10.0, F.lit(1.0))) \
                     .otherwise(F.lit(0.0))
    score = (0.35 * len_score + 0.3 * alpha_ratio + 0.25 * stop_ratio
             + 0.1 * (1.0 - punct_penalty))
    return round6(score).alias("quality")


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality in [0,1]: length saturation, alpha ratio, stopword
    presence, moderate punctuation. Deterministic weighted sum."""
    return df.select(F.col(id_col), quality_col(F.col(text_col)))


def sql_quality_score(table: str, text_col: str, id_col: str) -> str:
    toks = f"len({sql_tokens(text_col)})::DOUBLE"
    n_chars = f"length({text_col})::DOUBLE"
    alpha = f"len(regexp_extract_all({text_col}, '[A-Za-z]'))::DOUBLE"
    punct = f"len(regexp_extract_all({text_col}, '[^A-Za-z0-9\\s]'))::DOUBLE"
    stop = (f"len(regexp_extract_all(lower({text_col}), "
            f"'{_marker_re(STOPWORDS)}'))::DOUBLE")
    score = f"""0.35 * least({toks} / 50.0, 1.0)
        + 0.3 * (CASE WHEN {n_chars} > 0 THEN {alpha} / {n_chars} ELSE 0.0 END)
        + 0.25 * (CASE WHEN {toks} > 0
                  THEN least({stop} / {toks} * 5.0, 1.0) ELSE 0.0 END)
        + 0.1 * (1.0 - (CASE WHEN {n_chars} > 0
                        THEN least({punct} / {n_chars} * 10.0, 1.0)
                        ELSE 0.0 END))"""
    return f"""
      SELECT {id_col}, {sql_round6(score)} AS quality
      FROM {table}"""


def fingerprint_col(c, shingle_k: int = 3, seed: int = 7):
    """The fingerprint expression (see fingerprint), reusable for fusion.

    Cost note: the shingle array is a transform/slice higher-order
    expression — CodegenFallback, ~15µs per shingle visit — so this
    column alone costs ~word-count µs per document (measured 31 s at sf1,
    as expensive as every other fused profile signal combined). Use
    fingerprint_arrow_col where exact-int parity suffices (it does:
    the fingerprint is integer arithmetic end-to-end, so the kernels are
    bit-identical, not merely ulp-close)."""
    (a, b) = minhash_params(1, seed)[0]
    sh = word_shingles(c, shingle_k)
    fp = F.array_min(F.transform(
        sh, lambda s: affine_hash(portable_hash32(s), a, b)))
    return F.coalesce(fp, F.lit(-1)).cast("bigint").alias("fingerprint")


def py_fingerprint_batch(texts, shingle_k: int = 3,
                         seed: int = 7) -> "list[int]":
    """Batch twin of the Arrow fingerprint kernel — shared by
    fingerprint_arrow_col and the fused profile UDF (one text crossing
    into Python instead of one per signal)."""
    import hashlib

    (a, b) = minhash_params(1, seed)[0]
    k = shingle_k
    md5 = hashlib.md5
    h32 = H32_MOD
    ws = _NP_WS

    def one(text):
        if not text:
            return -1
        toks = [t for t in ws.split(text.strip(" ")) if t]
        n = len(toks)
        if n < k:
            return -1
        best = None
        for i in range(n - k + 1):
            h = int(md5(" ".join(toks[i:i + k]).encode()
                        ).hexdigest()[:15], 16) % h32
            v = (h * a + b) % MERSENNE_P
            if best is None or v < best:
                best = v
        return best

    return [one(t) for t in texts]


def fingerprint_arrow_col(c, shingle_k: int = 3, seed: int = 7):
    """Arrow-batched twin of fingerprint_col: same md5-derived portable
    hash (hashlib md5 == Spark md5 == DuckDB md5, bytes-identical), same
    affine permute, same min — all INTEGER arithmetic, so the value is
    bit-identical to the expression path, not merely close. Tokenization
    replicates the expression's semantics exactly: Spark SQL trim()
    strips only SPACE (U+0020) at the edges (not Java String.trim's
    <=U+0020 range); Java regex \\s is the ASCII class
    [ \\t\\n\\x0B\\f\\r] (Python's default \\s is Unicode — re.ASCII
    pins it). ~300× more core-efficient than the HOF expression
    (3 s single-core vs ~1000 core-seconds at sf1): one C md5 per
    shingle instead of an interpreted slice/concat/md5 expression tree.
    Map-only, streaming-safe (scalar pandas UDF)."""
    from pyspark.sql.functions import pandas_udf

    k, s = shingle_k, seed

    @pandas_udf("bigint")
    def _fp(texts: pd.Series) -> pd.Series:
        return pd.Series(py_fingerprint_batch(texts, k, s), dtype="int64")

    return _fp(c).alias("fingerprint")


def fp_bpe_arrow_col(c, shingle_k: int = 3, seed: int = 7):
    """struct<fingerprint, bpe_tokens>: fingerprint_arrow_col fused with
    the BPE-ish token count in ONE Arrow crossing. The BPE count rides
    the Python side for the same reason corpus.document_profile's batch
    face moved it there (round-11 profiling): co-residency of the
    BPE_ISH regex with the PII email regex in one JVM projection
    deoptimizes java.util.regex's shared hot paths (~3x the whole fused
    scan); Python re with re.ASCII is value-identical (\\s = ASCII
    whitespace, matching Java regex and DuckDB RE2). Map-only,
    streaming-safe — the stream face of document_profile uses this so
    profile-on-ingest gets the same isolation."""
    import re

    from pyspark.sql.functions import pandas_udf

    k, s = shingle_k, seed

    @pandas_udf("struct<fingerprint:bigint,bpe_tokens:bigint>")
    def _fb(texts):
        pat = re.compile(BPE_ISH_RE, re.ASCII)
        # None/NaN text -> NULL bpe_tokens (nullable Int64), matching the
        # JVM regexp_count face this kernel replaced; fingerprint keeps
        # py_fingerprint_batch's -1 empty-text sentinel (ADVICE r11)
        return pd.DataFrame({
            "fingerprint": pd.Series(py_fingerprint_batch(texts, k, s),
                                     dtype="int64"),
            "bpe_tokens": pd.Series(
                [None if pd.isna(t) else len(pat.findall(t))
                 for t in texts], dtype="Int64"),
        })

    return _fb(c)


def fingerprint(df: DataFrame, text_col: str, id_col: str,
                shingle_k: int = 3, seed: int = 7,
                kernel: str = "expr") -> DataFrame:
    """Rolling-hash document fingerprint: min affine hash over k-word
    shingles (a 1-function minhash); -1 sentinel for shingle-less docs.
    kernel="arrow" swaps in the bit-identical Arrow kernel (see
    fingerprint_arrow_col)."""
    col = (fingerprint_arrow_col if kernel == "arrow"
           else fingerprint_col)
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"unknown fingerprint kernel: {kernel!r}")
    return df.select(F.col(id_col),
                     col(F.col(text_col), shingle_k, seed))


def sql_fingerprint(table: str, text_col: str, id_col: str,
                    shingle_k: int = 3, seed: int = 7) -> str:
    (a, b) = minhash_params(1, seed)[0]
    sh = sql_word_shingles(text_col, shingle_k)
    ah = sql_affine_hash(sql_hash32("s"), a, b)
    return (f"SELECT {id_col}, coalesce(list_min(list_transform({sh}, "
            f"s -> {ah})), -1)::BIGINT AS fingerprint FROM {table}")


def chunk_documents(df: DataFrame, text_col: str, id_col: str,
                    size: int = 200, stride: int = 160) -> DataFrame:
    """Split documents into fixed-width character chunks with overlap — the
    LLM-context-window preparation staple (size > stride gives size-stride
    chars of overlap between consecutive chunks). Pure column expressions:
    sequence + posexplode + substring, fully distributed, no UDF; at 100 TB
    this is a map-only stage (one row amplification of ~len/stride, zero
    shuffles). Empty documents produce zero chunks.

    Returns (id, chunk_id, char_offset, chunk, n_chars), chunk_id 0-based
    consecutive per document."""
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    n = F.length(F.col(text_col))
    offs = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    ex = df.select(F.col(id_col), F.col(text_col).alias("_t"),
                   F.posexplode(F.when(n > 0, offs)).alias("chunk_id", "off"))
    chunk = F.substring(F.col("_t"), F.col("off") + 1, F.lit(size))
    return ex.select(F.col(id_col),
                     F.col("chunk_id").cast("bigint").alias("chunk_id"),
                     F.col("off").cast("bigint").alias("char_offset"),
                     chunk.alias("chunk"),
                     F.length(chunk).cast("bigint").alias("n_chars"))


def sql_chunk_documents(table: str, text_col: str, id_col: str,
                        size: int = 200, stride: int = 160) -> str:
    return f"""
      WITH c AS (
        SELECT {id_col}, {text_col} AS t,
               unnest(range(0, greatest(length({text_col}) - 1, 0) + 1,
                            {stride})) AS off
        FROM {table} WHERE length({text_col}) > 0)
      SELECT {id_col}::BIGINT AS {id_col},
             (off // {stride})::BIGINT AS chunk_id,
             off::BIGINT AS char_offset,
             substr(t, (off + 1)::INT, {size}) AS chunk,
             length(substr(t, (off + 1)::INT, {size}))::BIGINT AS n_chars
      FROM c"""


def pack_sequences(df: DataFrame, text_col: str, id_col: str,
                   target_tokens: int = 256, n_shards: int = 16,
                   tokens_col: str | None = None) -> DataFrame:
    """Assign documents to fixed-token-budget training bins (sequence
    packing — the "concat documents to fill the context window" step of an
    LLM pretraining pipeline).

    Packing is embarrassingly parallel across deterministic shards
    (shard = id mod n_shards): within a shard, documents are taken in id
    order and greedily concatenated by a running whitespace-token cumsum;
    a document belongs to the bin where it STARTS (bins may overflow
    target_tokens by at most one document — the standard greedy-fill
    approximation, which never splits a document).

    Scale shape: one shuffle on the shard key, then a per-shard window.
    n_shards is the parallelism/memory knob — pick it so a shard's rows
    fit an executor (at 100 TB that means millions of shards, which is
    fine: shard ids are dense integers and the window state is one
    running sum). No Python, no global sort.

    Returns (id, shard, tokens, bin_id, bin_offset): bin_id dense per
    shard, bin_offset = tokens already in the bin when this doc starts.

    Budgeting defaults to whitespace token counts; pass `tokens_col` (a
    precomputed count column, e.g. from `bpe_token_counts`) to pack by a
    real tokenizer's counts — the plan shape is identical."""
    from pyspark.sql import Window
    if target_tokens <= 0 or n_shards <= 0:
        raise ValueError("target_tokens and n_shards must be positive")
    toks = (F.col(tokens_col).cast("bigint") if tokens_col is not None
            else F.size(tokens(F.col(text_col))).cast("bigint"))
    base = df.select(F.col(id_col),
                     F.pmod(F.col(id_col).cast("long"),
                            F.lit(n_shards)).alias("shard"),
                     toks.alias("tokens"))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("tokens").over(w) - F.col("tokens")).alias("_start")
    return (base.select(id_col, "shard", "tokens", start)
            .select(F.col(id_col), F.col("shard").cast("bigint"),
                    F.col("tokens"),
                    F.floor(F.col("_start") / target_tokens)
                     .cast("bigint").alias("bin_id"),
                    F.pmod(F.col("_start"), F.lit(target_tokens))
                     .cast("bigint").alias("bin_offset")))


def sql_pack_sequences(table: str, text_col: str, id_col: str,
                       target_tokens: int = 256, n_shards: int = 16) -> str:
    """DuckDB twin of pack_sequences (same shard hash, same window)."""
    return f"""
      WITH b AS (
        SELECT {id_col},
               (({id_col}::BIGINT % {n_shards}) + {n_shards}) % {n_shards}
                 AS shard,
               len({sql_tokens(text_col)})::BIGINT AS tokens
        FROM {table}),
      s AS (
        SELECT {id_col}, shard, tokens,
               sum(tokens) OVER (PARTITION BY shard ORDER BY {id_col}
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) - tokens AS st
        FROM b)
      SELECT {id_col}::BIGINT AS {id_col}, shard::BIGINT AS shard, tokens,
             (st // {target_tokens})::BIGINT AS bin_id,
             (st % {target_tokens})::BIGINT AS bin_offset
      FROM s"""
