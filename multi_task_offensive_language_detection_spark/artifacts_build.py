"""Deterministic offline artifact training (SURVEY.md S5, FIXTURES.md §4).

Builds the engine's broadcast artifacts into ``artifacts/``:

- ``langid.npz``  — char-n-gram NB language model over {en,es,de,fr,zh,tr}
- ``lm.npz``      — hashed unigram/bigram English LM for the perplexity gate

Corpora are synthesized here from embedded common-word lists (public
linguistic knowledge) with a PINNED seed (7 — deliberately different from
the fixture seed 42; generators in tests/fixtures/ share no code with this
module, per the anti-tautology rule SURVEY.md §5.2.1). Same seed ⇒
byte-stable artifacts ⇒ retry-deterministic scoring.

At cluster scale these files ship via ``spark-submit --files`` and load
once per Python worker (see operators/scoring.py ``_load_models``).
"""

from __future__ import annotations

import os

import numpy as np

from .lexicons import ENTITY_NOUNS, GROUP_NOUNS, PROFANITY, SECOND_PERSON
from .operators.langid import LangidModel
from .operators.perplexity import NgramLM

SEED = 7
N_SENT_PER_LANG = 5000
#: bump when a hash kernel / feature definition changes so stale on-disk
#: artifacts are never loaded (v2: token hashing moved to the vectorized
#: utf-32 FNV kernel)
ARTIFACT_VERSION = 5  # v5: polynomial token hash kernel (hashing.py)

# Common-word inventories per language (public knowledge; accents kept —
# they are the strongest char-n-gram signals).
WORDS = {
    "en": (
        "the of and to in a is that it was for on are with as his they at be this "
        "have from or one had by word but not what all were when we there can an "
        "your which their said if do will each about how up out them then she many "
        "some so these would other into has more her two like him see time could no "
        "make than first been its who now people my made over did down only way find "
        "use may water long little very after called just where most know get "
        "through back much before go good new write our used me man too any day same "
        "right look think also around another came come work three must because does "
        "part even place well such here take why things help put years different "
        "away again off went old number great tell men say small every found still "
        "between name should home big give air line set own under read last never us "
        "left end along while might next sound below saw something thought both few "
        "those always looked show large often together asked house world going want "
        "school important until form food keep children feet land side without boy "
        "once animal life enough took four head above kind began almost live page "
        "got earth need far hand high year mother light country father let night "
        "picture being study second soon story since white ever paper hard near "
        "sentence better best across during today however sure knew try told young "
        "sun thing whole hear example heard several change answer room sea against "
        "top turned learn point city play toward five himself usually money seen "
        "didn car morning given order red door sure become happy music really "
        "quality data stream table row column value filter sort merge order group "
        "clip audio sample rate transcript speech voice sound record signal noise "
        "i absolute acting birds box bread clear complete completely cooked dinner "
        "evening everybody everywhere examples excuse explained field fine fire "
        "fresh friends fruit garden getting gold green grew hill honestly inside "
        "joke keeps lesson letter market mess met moved nonsense nothing played "
        "quiet rain reading river sang share sky slowly soft spring stay stone "
        "tall teacher town trees truly typical waited walked warm waste watch wooden"
    ).split(),
    "es": (
        "el la de que y en los se del las por un para con no una su al es lo como "
        "más pero sus le ya o este sí porque esta entre cuando muy sin sobre también "
        "me hasta hay donde quien desde todo nos durante todos uno les ni contra "
        "otros ese eso ante ellos e esto mí antes algunos qué unos yo otro otras "
        "otra él tanto esa estos mucho quienes nada muchos cual poco ella estar "
        "estas algunas algo nosotros año años día días vez casa vida mundo hombre "
        "mujer niño ciudad país agua tiempo ahora después siempre nunca aquí allí "
        "bueno nuevo grande pequeño mismo hacer tener decir poder saber querer "
        "hablar español música corazón mañana noche señor gracias adiós"
    ).split(),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem nicht ein "
        "eine als auch es an werden aus er hat dass sie nach wird bei einer um am "
        "sind noch wie einem über einen so zum war haben nur oder aber vor zur bis "
        "mehr durch man sein wurde sei schön groß müssen können jahr jahre tag "
        "zeit leben welt mensch stadt land wasser straße mädchen fräulein über "
        "später während zwischen gegen ohne unter immer wieder schon sehr hier "
        "dort heute morgen gestern deutsch sprache musik herz nacht danke bitte "
        "tschüss größer kleiner häuser bücher"
    ).split(),
    "fr": (
        "le de un être et à il avoir ne je son que se qui ce dans en du elle au "
        "cette pour pas vous par sur faire plus dire me on mon lui nous comme mais "
        "pouvoir avec tout y aller voir bien où sans tu ou leur homme si deux moi "
        "vouloir te femme venir quand grand celui notre devoir là jour prendre "
        "même votre rien petit encore aussi quelque dont mer trouver donner temps "
        "ça peu falloir sous parler alors main chose mettre vie savoir yeux passer "
        "autre après très déjà être français française année monde enfant ville "
        "pays eau nuit cœur merci bonjour au revoir s'il plaît années était être"
    ).split(),
    "zh": (
        "de shi bu wo ni ta men zhe ge zai you le ren dou yi hao ma shuo jiu na "
        "yao hui dui ye hen tian shang xia zhong guo jia xiao da lai qu kan xiang "
        "zhi dao xue sheng gong zuo shi jian nian yue ri ming bai qian wan shui "
        "shan feng yu xue hua cao mu niao yu chi fan he cha zou lu pao bu fei ji "
        "huo che dian nao shou ji peng you lao shi tong xue mei mei ge ge jie jie "
        "di di ba ba ma ma ye ye nai nai xie xie zai jian"
    ).split(),
    "tr": (
        "bir bu da de ve için ile mi ne o çok daha en gibi kadar sonra ama ben sen "
        "biz siz onlar var yok evet hayır şey zaman gün yıl iyi kötü büyük küçük "
        "yeni eski güzel şu her hiç şimdi burada orada nasıl neden çünkü işte "
        "türkçe üzerinde altında arasında değil olarak olan oldu olur ev su ateş "
        "toprak hava deniz dağ ağaç çiçek kuş balık yemek içmek gitmek gelmek "
        "görmek bilmek istemek sevmek teşekkür günaydın merhaba güle güle"
    ).split(),
}

#: Extra English-register tokens the LM must know so post-scrub transcripts
#: score over a known vocabulary (placeholders, masks, insult register).
LM_EXTRA_TOKENS = (
    list(PROFANITY)
    + list(SECOND_PERSON)
    + list(GROUP_NOUNS)
    + list(ENTITY_NOUNS)
    + ["<email>", "<phone>", "<ssn>", "<ip>", "<profanity>", "@user", "url"]
)


def _sentences(rng: np.random.Generator, vocab: list[str], n_sent: int) -> list[str]:
    """Zipf-weighted bag-of-words sentences (5-18 tokens)."""
    v = np.asarray(vocab, dtype=object)
    ranks = np.arange(1, len(v) + 1, dtype=np.float64)
    w = 1.0 / ranks
    w /= w.sum()
    out = []
    lens = rng.integers(5, 19, size=n_sent)
    for ln in lens:
        out.append(" ".join(rng.choice(v, size=ln, p=w)))
    return out


def build_langid_corpus(seed: int = SEED) -> list[tuple[str, str]]:
    rng = np.random.default_rng(seed)
    corpus: list[tuple[str, str]] = []
    for lang in sorted(WORDS):
        for s in _sentences(rng, WORDS[lang], N_SENT_PER_LANG):
            corpus.append((lang, s))
    return corpus


def build_lm_corpus(seed: int = SEED) -> list[str]:
    """English corpus incl. the insult/placeholder register; every vocab
    token is force-included ≥60 times so unigram backoff has a floor."""
    rng = np.random.default_rng(seed + 1)
    vocab = WORDS["en"] + LM_EXTRA_TOKENS
    texts = _sentences(rng, vocab, 40000)
    # guarantee minimum unigram counts for the full vocabulary
    v = np.asarray(vocab, dtype=object)
    for _ in range(60):
        perm = rng.permutation(len(v))
        for i in range(0, len(v), 12):
            texts.append(" ".join(v[perm[i : i + 12]]))
    return texts


def default_artifact_dir() -> str:
    return os.environ.get(
        "MTOLD_ARTIFACT_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "artifacts"),
    )


def build_all(artifact_dir: str | None = None, force: bool = False) -> dict[str, str]:
    """Idempotent build; returns {'langid': path, 'lm': path}."""
    d = artifact_dir or default_artifact_dir()
    os.makedirs(d, exist_ok=True)
    paths = {
        "langid": os.path.join(d, f"langid_v{ARTIFACT_VERSION}.npz"),
        "lm": os.path.join(d, f"lm_v{ARTIFACT_VERSION}.npz"),
    }
    if force or not os.path.exists(paths["langid"]):
        LangidModel.train(build_langid_corpus()).save(paths["langid"])
    if force or not os.path.exists(paths["lm"]):
        NgramLM.train(build_lm_corpus()).save(paths["lm"])
    return paths


if __name__ == "__main__":
    print(build_all(force=True))
