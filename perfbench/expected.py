"""Expected answers derived from the input generator, never from the engine.

The synthetic transcript generator (``sources.transcripts.generate_conv``)
is a pure function of ``(seed, conv_n)``. This module replays it in plain
Python, parses each fenced mention block with the standard ``json``
module, and tallies what a correct engine must produce: raw and
deduplicated quad counts, the gold sameAs clustering, per-entity mention
sets and per-mention attributes. Query and update answers are computed
from these tallies.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from rdflib_jsonld_spark.sources import transcripts as tr
from rdflib_jsonld_spark.sources.registry import KG

_BLOCK = re.compile(re.escape(tr.FENCE_OPEN) + "(.*?)"
                    + re.escape(tr.FENCE_CLOSE), re.DOTALL)
_ALIAS = re.compile(re.escape(KG) + r"e/(\d+)/a(\d+)$")

# quads per mention node: @type, surface, about, turn, confidence; a
# language map of two entries adds 2; a two-item @list adds the link plus
# rdf:first/rdf:rest for each cell (1 + 2*2)
_MENTION_BASE_QUADS = 5
_LABEL_QUADS = 2
_TAGS_QUADS = 5


@dataclass(frozen=True)
class Mention:
    iri: str
    entity: int
    surface: str
    confidence: float
    has_label: bool
    has_tags: bool

    @property
    def n_quads(self) -> int:
        return (_MENTION_BASE_QUADS + _LABEL_QUADS * self.has_label
                + _TAGS_QUADS * self.has_tags)


@dataclass
class Corpus:
    """Tallies of one generated input."""
    turns: int = 0
    parse_errors: int = 0
    raw_quads: int = 0
    mentions: list[Mention] = field(default_factory=list)
    #: entity index -> highest alias index any mention or chain reaches
    max_alias: dict[int, int] = field(default_factory=dict)
    #: entity index -> its mentions
    by_entity: dict[int, list[Mention]] = field(default_factory=dict)
    #: a sample of turn rows (conv_id, turn_idx, text) for the kernel probe
    sample_turns: list[tuple[str, int, str]] = field(default_factory=list)

    @property
    def linked_nodes(self) -> int:
        """Aliases a1..aJ of every entity; each has one sameAs edge."""
        return sum(self.max_alias.values())

    @property
    def dedup_quads(self) -> int:
        """Mention quads are unique; sameAs statements repeat per mention,
        so the deduplicated table keeps one per distinct alias edge. The
        canonical rewrite is a row-preserving left join, so the stored
        graph has the same row count."""
        return sum(m.n_quads for m in self.mentions) + self.linked_nodes

    def gold_mapping(self) -> dict[str, str]:
        """alias IRI -> canonical a0 IRI for every non-root alias."""
        return {tr.alias_iri(i, j): tr.canonical_iri(i)
                for i, jmax in self.max_alias.items()
                for j in range(1, jmax + 1)}

    def entity_counts(self) -> dict[str, int]:
        return {tr.canonical_iri(i): len(ms)
                for i, ms in self.by_entity.items()}


def tally(seed: int, n_convs: int, n_sample_turns: int = 2000) -> Corpus:
    c = Corpus()
    for conv_n in range(n_convs):
        for row in tr.generate_conv(seed, conv_n):
            c.turns += 1
            if len(c.sample_turns) < n_sample_turns:
                c.sample_turns.append(
                    (row["conv_id"], row["turn_idx"], row["text"]))
            for block in _BLOCK.findall(row["text"]):
                try:
                    doc = json.loads(block)
                except ValueError:
                    c.parse_errors += 1
                    continue
                _add_doc(c, doc)
    return c


def _add_doc(c: Corpus, doc: dict) -> None:
    for node in doc.get("@graph", [doc]):
        if node.get("@type") == "Mention":
            i, j = (int(x) for x in _ALIAS.match(node["about"]).groups())
            m = Mention(node["id"], i, node["surface"],
                        float(node["confidence"]), "label" in node,
                        "tags" in node)
            c.mentions.append(m)
            c.by_entity.setdefault(i, []).append(m)
            c.raw_quads += m.n_quads
            if j:
                c.max_alias[i] = max(c.max_alias.get(i, 0), j)
        else:  # {"id": alias j, "sameAs": alias j-1}
            c.raw_quads += 1
