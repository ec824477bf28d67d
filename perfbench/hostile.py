"""Seeded hostile pages: inputs that stress the extraction path's
worst cases without failing it.

Five classes, each sized so one page takes at most about 1 s of
single-core ``extract_page`` time on a 4-core Xeon and extracts
without an error row.  Nesting stays well below the depth where the
recursive walks raise ``RecursionError`` (about 1,000 there), because
that depth moves with the caller's own stack depth:

* ``deep_nesting``   — nested ``<div>``/``<section>`` chains (the
  recursive DOM walks);
* ``lt_flood``       — text with ``<`` and no ``>`` (the tag-stripping
  regexes in the prompt guard);
* ``mega_attribute`` — a single attribute value of about a megabyte;
* ``open_comment``   — a ``<!--`` that never closes, over body text;
* ``link_flood``     — tens of thousands of ``<a href>`` links.

``CLASS_SIZES`` fixes each class's page count and size; the seed picks
words, tags, attribute bytes and urls, so the class composition (and
the cost per class) is the same for every seed.
"""

from __future__ import annotations

import random
from typing import Dict, List, Tuple

_WORDS = ("hostile page nested flood attribute comment link anchor token "
          "parser walk depth budget stall worker straggler").split()

# class → (pages, size); the size unit is per class.  Sizes are fixed:
# the cost of the lt_flood and link_flood pages grows faster than
# linearly with size, so a seeded size would make the pass time depend
# on the seed.
CLASS_SIZES: Dict[str, Tuple[int, int]] = {
    "deep_nesting": (1, 400),          # nesting depth
    "lt_flood": (1, 3500),             # '<' characters
    "mega_attribute": (1, 850_000),    # attribute bytes
    "open_comment": (1, 30_000),       # words after '<!--'
    "link_flood": (1, 25_000),         # links
}


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _wrap(title: str, body: str) -> str:
    return (f"<!DOCTYPE html><html><head><title>{title}</title></head>"
            f"<body>{body}</body></html>")


def _deep_nesting(rng: random.Random, depth: int) -> str:
    tags = [rng.choice(("div", "section", "span")) for _ in range(depth)]
    opens = "".join(f'<{t} class="d{i % 7}">' for i, t in enumerate(tags))
    closes = "".join(f"</{t}>" for t in reversed(tags))
    return _wrap("Nested", f"{opens}<p>{_words(rng, 40)}</p>{closes}")


def _lt_flood(rng: random.Random, n: int) -> str:
    parts, left = [], n
    while left > 0:
        k = min(left, rng.randint(1, 8))
        parts.append("<" * k + " " + rng.choice(_WORDS) + " ")
        left -= k
    return _wrap("Flood", f"<p>{_words(rng, 30)}</p><p>{''.join(parts)}</p>")


def _mega_attribute(rng: random.Random, n: int) -> str:
    chunk = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                    for _ in range(1024))
    value = (chunk * (n // 1024 + 1))[:n]
    return _wrap("Attribute", f'<div data-blob="{value}"><p>'
                 f"{_words(rng, 60)}</p></div><p>{_words(rng, 60)}</p>")


def _open_comment(rng: random.Random, n: int) -> str:
    return _wrap("Comment", f"<p>{_words(rng, 40)}</p><!-- "
                 f"{_words(rng, n)}")


def _link_flood(rng: random.Random, n: int) -> str:
    links = "".join(f'<a href="/l/{rng.randrange(10**6)}-{i}">'
                    f"{rng.choice(_WORDS)}</a> " for i in range(n))
    return _wrap("Links", f"<p>{_words(rng, 40)}</p><nav>{links}</nav>")


_MAKERS = {
    "deep_nesting": _deep_nesting,
    "lt_flood": _lt_flood,
    "mega_attribute": _mega_attribute,
    "open_comment": _open_comment,
    "link_flood": _link_flood,
}


def hostile_rows(seed: int) -> List[Dict]:
    """``{"url", "html", "cls", "size"}`` rows, class by class."""
    rng = random.Random(seed)
    rows = []
    for cls, (count, size) in CLASS_SIZES.items():
        for j in range(count):
            rows.append({"url": f"https://hostile.example.net/{cls}/{j}",
                         "html": _MAKERS[cls](rng, size).encode("utf-8"),
                         "cls": cls, "size": size})
    return rows
