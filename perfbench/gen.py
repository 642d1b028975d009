"""Seeded input generators: raw IRC line files and a documents corpus.

Everything here is pure Python (plus pyarrow for the parquet write), so
the same seed gives byte-identical inputs, and the expected outputs the
checks compare against are computed from the generator's own records,
never from the program under test.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random
from dataclasses import dataclass, field

# ------------------------------------------------------------- IRC lines

#: the reference bot's channel catalog holds 155 channels
N_CHANNELS = 155
#: The reference publishes no traffic figures, so the three sizes below
#: are assumptions, not measurements, each picked by a stated rule.
#: Nicks: about eight speakers per channel (155 x 8, rounded).
N_NICKS = 1200
#: Vocabulary: large enough that two remarks drawn apart almost never
#: coincide, so the duplicates are the planted re-deliveries below.
N_VOCAB = 4000
#: Skew of channels, nicks and words: Zipf's law for word frequencies
#: in natural text has an exponent near 1; 1.1 is a round value just
#: above 1, where the distribution stays normalisable however large
#: the catalog grows.
ZIPF_S = 1.1

#: share of lines the reference's filters drop (PING, NOTICE, blank,
#: nick of 17+ characters, invalid UTF-8), of ACTION lines, and of
#: re-deliveries (half inside the same file, half of an earlier file)
P_FILTERED = 0.04
P_ACTION = 0.09
P_REDELIVER = 0.10

#: the program's content-id separator and nick bound (ingest.py,
#: functions/hashing.py); restated here so the expected ids are
#: computed independently of the code under test
ID_SEP = "\x1f"
MAX_NICK_LEN = 17

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "zu", "pe", "qua", "ri",
    "do", "fa", "gu", "hi", "ja", "ko", "le", "mo", "nu", "po", "se", "to",
]
_PROJECTS = [
    "openstack", "zuul", "nova", "neutron", "cinder", "glance", "swift",
    "keystone", "heat", "ironic", "kolla", "octavia", "manila", "designate",
]


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for rank in range(1, n + 1):
        acc += 1.0 / rank**s
        out.append(acc)
    return [x / acc for x in out]


def _pick(rng: random.Random, items: list, cdf: list[float]):
    return items[min(bisect.bisect_left(cdf, rng.random()), len(items) - 1)]


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(lo, hi)))


def expected_id(channel: str, nick: str, remark: str) -> str:
    """The program's scale content id: sha2-256 over the value-sorted
    (channel, nick, remark) joined by 0x1F."""
    return hashlib.sha256(ID_SEP.join(sorted((channel, nick, remark))).encode()).hexdigest()


def canonical_remark(remark: str) -> str:
    """The reference's ACTION rewrite: a remark starting with 'ACTION '
    has every 'ACTION ' replaced by '/me '."""
    return remark.replace("ACTION ", "/me ") if remark.startswith("ACTION ") else remark


@dataclass
class IrcCorpus:
    """Generated IRC line files plus the distinct keys each one adds."""

    files: list[bytes] = field(default_factory=list)
    #: per file: content id -> (channel, nick, canonical remark)
    keys: list[dict[str, tuple[str, str, str]]] = field(default_factory=list)
    lines: int = 0

    def expected(self, n_files: int) -> dict[str, tuple[str, str, str]]:
        """Distinct keys of the first ``n_files`` files."""
        out: dict[str, tuple[str, str, str]] = {}
        for k in self.keys[:n_files]:
            out.update(k)
        return out

    def write(self, directory: str, first: int, count: int) -> int:
        """Write files [first, first+count) into ``directory``; returns bytes written."""
        os.makedirs(directory, exist_ok=True)
        total = 0
        for i in range(first, first + count):
            # write under a dot name then rename: a file stream source
            # must never list a half-written file
            tmp = os.path.join(directory, f".part-{i:05d}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(self.files[i])
            os.rename(tmp, os.path.join(directory, f"part-{i:05d}.log"))
            total += len(self.files[i])
        return total


def irc_corpus(seed: int, n_files: int, lines_per_file: int) -> IrcCorpus:
    rng = random.Random(seed)
    channels = sorted({f"#{rng.choice(_PROJECTS)}-{_word(rng, 1, 3)}" for _ in range(4 * N_CHANNELS)})
    rng.shuffle(channels)
    channels = channels[:N_CHANNELS]
    nicks = list(dict.fromkeys(_word(rng, 2, 6)[: MAX_NICK_LEN - 1] for _ in range(2 * N_NICKS)))
    nicks = nicks[:N_NICKS]
    vocab = list(dict.fromkeys(_word(rng, 1, 4) for _ in range(2 * N_VOCAB)))[:N_VOCAB]
    ch_cdf, nick_cdf, voc_cdf = (
        _zipf_cdf(len(channels), ZIPF_S),
        _zipf_cdf(len(nicks), ZIPF_S),
        _zipf_cdf(len(vocab), ZIPF_S),
    )
    hosts = {n: f"{_word(rng, 1, 2)}{i}.example.net" for i, n in enumerate(nicks)}

    out = IrcCorpus()
    history: list[tuple[bytes, tuple[str, str, str] | None]] = []
    for _f in range(n_files):
        file_lines: list[tuple[bytes, tuple[str, str, str] | None]] = []
        keys: dict[str, tuple[str, str, str]] = {}
        for _ in range(lines_per_file):
            u = rng.random()
            if u < P_REDELIVER and (file_lines or history):
                # re-delivery: the same raw line again (same key)
                same = rng.random() < 0.5 or not history
                pool = file_lines if (same and file_lines) else history
                line, key = pool[rng.randrange(len(pool))]
            elif u < P_REDELIVER + P_FILTERED:
                line, key = _filtered_line(rng, channels, ch_cdf), None
            else:
                nick = _pick(rng, nicks, nick_cdf)
                chan = _pick(rng, channels, ch_cdf)
                remark = " ".join(rng.choices(vocab, cum_weights=voc_cdf, k=rng.randint(3, 20)))
                if u < P_REDELIVER + P_FILTERED + P_ACTION:
                    remark = "ACTION " + remark
                user = ("~" if rng.random() < 0.5 else "") + nick[:8]
                line = f":{nick}!{user}@{hosts[nick]} PRIVMSG {chan} :{remark}".encode()
                key = (chan, nick, canonical_remark(remark))
            file_lines.append((line, key))
            if key is not None:
                keys[expected_id(*key)] = key
        out.files.append(b"".join(line + b"\n" for line, _ in file_lines))
        out.keys.append(keys)
        out.lines += len(file_lines)
        history.extend(file_lines)
    return out


def _filtered_line(rng: random.Random, channels: list[str], ch_cdf: list[float]) -> bytes:
    kind = rng.randrange(5)
    chan = _pick(rng, channels, ch_cdf)
    if kind == 0:
        return f"PING :irc{rng.randrange(9)}.example.net".encode()
    if kind == 1:
        return b":irc.example.net NOTICE * :*** Looking up your hostname..."
    if kind == 2:
        return b""
    if kind == 3:
        nick = "".join(rng.choice("abcdefghij") for _ in range(rng.randint(MAX_NICK_LEN, 24)))
        return f":{nick}!~x@h.example.net PRIVMSG {chan} :dropped by the nick bound".encode()
    return f":mojibake!~m@h.example.net PRIVMSG {chan} :caf".encode() + b"\xc3\x28 \xff\xfe"


# ------------------------------------------------------- documents corpus

#: the driver corpus's documents vocabulary (sf0.1 texts draw uniformly
#: from these 30 words); every term the registered search and dedup
#: queries probe is one of them, or a fuzzy/wildcard variant of one
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: sf0.1's near-duplicate density: 5% of documents are an earlier
#: document's text plus the marker token 'dup'
P_NEAR_DUP = 0.05
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
N_SOURCES = 20


def documents_table(seed: int, n_docs: int):
    """The driver corpus's documents table (doc_id, text, lang, source,
    n_chars) at ``n_docs`` rows, as a pyarrow table."""
    import pyarrow as pa

    rng = random.Random(seed * 7919 + 1)
    lang_cdf = list(itertools.accumulate(w for _, w in LANGS))
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < P_NEAR_DUP:
            texts.append(texts[rng.randrange(len(texts))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100))))
    langs = [LANGS[min(bisect.bisect_left(lang_cdf, rng.random() * lang_cdf[-1]), len(LANGS) - 1)][0] for _ in texts]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, n_docs: int, corpus_dir: str) -> str:
    import pyarrow.parquet as pq

    os.makedirs(corpus_dir, exist_ok=True)
    path = os.path.join(corpus_dir, "documents.parquet")
    pq.write_table(documents_table(seed, n_docs), path)
    return path
