"""Seeded Twitch chat lines and the reference counts they must produce.

`make_lines` builds PRIVMSG lines whose words follow a Zipf law over a
chat vocabulary, optionally mixed with never-seen tail tokens (so the
word-count state keeps growing), and with a share of topic lines that
carry enough keywords of one category for the default keyword
classifier to fire.

`reference_counts` derives the expected word and category totals from
the lines alone, following the documented semantics of the topology
(FIXTURES.md A2/A3, `StreamingPipeline`): the text is everything after
the second ':' lower-cased, tokens are whitespace-separated, English
stop words are dropped, words longer than three characters are
counted, and a category is counted once per line when more than half
of its keywords occur in the line.
"""
import collections
import re

import numpy as np

# Categories of the default keyword classifier and their keywords.
CATEGORIES = {
    "gaming": ["game", "play", "stream", "level", "boss", "speedrun"],
    "music": ["song", "music", "band", "album", "concert", "playlist"],
    "sports": ["match", "team", "goal", "score", "league", "season"],
    "technology": ["computer", "software", "code", "hardware", "tech", "program"],
    "science": ["research", "study", "theory", "experiment", "physics", "biology"],
    "movies": ["movie", "film", "actor", "scene", "director", "trailer"],
    "food": ["food", "recipe", "cook", "taste", "restaurant", "kitchen"],
    "travel": ["travel", "trip", "flight", "country", "visit", "tour"],
    "politics": ["election", "vote", "policy", "government", "party", "president"],
    "finance": ["money", "market", "stock", "price", "trade", "invest"],
    "health": ["health", "doctor", "fitness", "sleep", "diet", "exercise"],
    "education": ["school", "learn", "teacher", "course", "exam", "student"],
    "art": ["art", "paint", "draw", "design", "artist", "gallery"],
    "history": ["history", "ancient", "war", "century", "empire", "museum"],
    "nature": ["nature", "animal", "forest", "ocean", "climate", "wildlife"],
    "fashion": ["fashion", "style", "wear", "brand", "outfit", "clothes"],
    "cars": ["car", "drive", "engine", "race", "wheel", "motor"],
    "books": ["book", "read", "author", "novel", "story", "chapter"],
    "news": ["news", "report", "breaking", "media", "press", "headline"],
    "humor": ["funny", "joke", "laugh", "meme", "comedy", "prank"],
}

# English stop words (Snowball list) that the generator puts into chat.
STOP_WORDS = frozenset(
    "i a the is and to it you so of in on at me my we this that with about "
    "have what when just they them their there would could should because "
    "very been were from into some than then only once here where which "
    "while those these after before again don't can't i'm".split())

_CHAT_WORDS = (
    "Kappa PogChamp LUL KEKW monkaS Sadge Copium OMEGALUL PepeHands catJAM "
    "pog hype clip chat gg! lol lmao nice wow insane streamer emote subs "
    "raid follow prime bits cheer mods timeout viewer clutch noob carry lag "
    "fps patch nerf buff meta build loot quest world record run 12:30 "
    "what? lets go ez gigachad chatting based cringe w l true real").split()
_SYLLABLES = ["ba", "ko", "ri", "mu", "te", "shi", "na", "vo", "lu", "de",
              "pa", "gi", "zo", "fe", "ra", "ku", "mi", "to", "se", "no"]

_KEYWORD_CATEGORY = {k: c for c, kws in CATEGORIES.items() for k in kws}
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def vocabulary(seed, size):
    """`size` words: real chat words and stop words first (the Zipf head),
    then seeded pseudo-words, then every classifier keyword."""
    rng = np.random.default_rng([seed, 7])
    words = list(dict.fromkeys(_CHAT_WORDS + sorted(STOP_WORDS)))
    seen = set(w.lower() for w in words)
    for kws in CATEGORIES.values():
        seen.update(kws)
    while len(words) < size:
        w = "".join(rng.choice(_SYLLABLES, int(rng.integers(2, 5))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    head = words[:size]
    return head + [k for kws in CATEGORIES.values() for k in kws if k not in head]


def make_lines(seed, n, vocab_size, tail_share, zipf_s=1.1):
    """`n` PRIVMSG lines from `seed`: Zipf words, tail tokens with
    probability `tail_share` per token, and topic lines."""
    rng = np.random.default_rng([seed, vocab_size, n])
    words = np.array(vocabulary(seed, vocab_size), dtype=object)
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    p /= p.sum()
    ntok = rng.integers(3, 14, n)
    tok = words[rng.choice(len(words), int(ntok.sum()), p=p)]
    tails = np.flatnonzero(rng.random(tok.size) < tail_share)
    tok[tails] = [f"x{seed:x}q{i:x}" for i in range(tails.size)]
    topic = rng.random(n) < 0.12
    labels = list(CATEGORIES.values())
    users = rng.integers(0, 5000, n)
    lines = []
    o = 0
    for i in range(n):
        k = int(ntok[i])
        body = " ".join(tok[o:o + k])
        o += k
        if topic[i]:
            kws = labels[int(rng.integers(0, len(labels)))]
            picks = rng.choice(len(kws), 4, replace=False)
            body += " " + " ".join(kws[j] for j in picks)
        u = f"viewer{users[i]}"
        lines.append(f":{u}!{u}@{u}.tmi.twitch.tv PRIVMSG #perfbench :{body}")
    return lines


def reference_counts(lines):
    """(word -> count, category -> count) the topology must report after
    consuming every line in `lines`."""
    words = collections.Counter()
    cats = collections.Counter()
    for line in lines:
        parts = line.split(":", 2)
        if len(parts) < 3:
            continue
        toks = [t for t in _WS.split(parts[2].lower()) if t]
        words.update(t for t in toks if len(t) > 3 and t not in STOP_WORDS)
        hits = collections.Counter(_KEYWORD_CATEGORY[t] for t in set(toks)
                                   if t in _KEYWORD_CATEGORY)
        cats.update(c for c, n in hits.items() if n / len(CATEGORIES[c]) > 0.5)
    return words, cats
