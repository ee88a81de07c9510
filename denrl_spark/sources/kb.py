"""Distant-supervision knowledge base (KB seeds).

The reference consumes pre-tagged NYT-style distant-supervision data
(tags already contain the `/`-relation convention, run_jointmodel.py:619).
The rebuild derives those tags itself by aligning a small KB of
(subj, subj_type, pred, obj, obj_type) seed triples onto transcript text —
the KB is tiny and broadcast everywhere it is used (SURVEY.md §1.3).

Relation names follow the reference's slash convention
(e.g. ``/location/location/contains``); entity tags are plain types
(``PERSON``/``LOCATION``/``ORGANIZATION``), matching run_jointmodel.py:619
("/" in tag <=> relation tag).
"""

from __future__ import annotations

from dataclasses import dataclass

PERSON, LOCATION, ORG = "PERSON", "LOCATION", "ORGANIZATION"

# Entity surface forms: 1-2 whitespace tokens, vocabulary disjoint from the
# corpus filler vocabulary so greedy longest-match alignment is unambiguous.
ENTITIES: list[tuple[str, str]] = [
    ("alice johnson", PERSON),
    ("bob", PERSON),
    ("carol stein", PERSON),
    ("david okafor", PERSON),
    ("erin", PERSON),
    ("frank miles", PERSON),
    ("grace li", PERSON),
    ("henry", PERSON),
    ("isabel cruz", PERSON),
    ("jack turner", PERSON),
    ("new york", LOCATION),
    ("paris", LOCATION),
    ("tokyo", LOCATION),
    ("brooklyn", LOCATION),
    ("france", LOCATION),
    ("japan", LOCATION),
    ("berlin", LOCATION),
    ("germany", LOCATION),
    ("queens", LOCATION),
    ("lyon", LOCATION),
    ("acme corp", ORG),
    ("globex", ORG),
    ("initech", ORG),
    ("umbrella labs", ORG),
    ("stark industries", ORG),
    ("wayne enterprises", ORG),
]

REL_PLACE_LIVED = "/people/person/place_lived"
REL_CONTAINS = "/location/location/contains"
REL_NATIONALITY = "/people/person/nationality"
REL_COMPANY = "/business/person/company"
REL_PLACE_FOUNDED = "/business/company/place_founded"
REL_NEIGHBORHOOD = "/location/neighborhood/neighborhood_of"
REL_CAPITAL = "/location/country/capital"
REL_ADVISOR = "/people/person/advisors"

# (subj, pred, obj). Every pred appears >= 5 times so top-k pattern mining
# (min(0.1*distinct, 20), run_jointmodel.py:1774-1778) is non-degenerate.
TRIPLES: list[tuple[str, str, str]] = [
    ("alice johnson", REL_PLACE_LIVED, "new york"),
    ("bob", REL_PLACE_LIVED, "paris"),
    ("carol stein", REL_PLACE_LIVED, "tokyo"),
    ("david okafor", REL_PLACE_LIVED, "berlin"),
    ("erin", REL_PLACE_LIVED, "brooklyn"),
    ("frank miles", REL_PLACE_LIVED, "lyon"),
    ("france", REL_CONTAINS, "paris"),
    ("france", REL_CONTAINS, "lyon"),
    ("japan", REL_CONTAINS, "tokyo"),
    ("germany", REL_CONTAINS, "berlin"),
    ("new york", REL_CONTAINS, "brooklyn"),
    ("new york", REL_CONTAINS, "queens"),
    ("alice johnson", REL_NATIONALITY, "france"),
    ("grace li", REL_NATIONALITY, "japan"),
    ("henry", REL_NATIONALITY, "germany"),
    ("isabel cruz", REL_NATIONALITY, "france"),
    ("jack turner", REL_NATIONALITY, "japan"),
    ("bob", REL_NATIONALITY, "germany"),
    ("alice johnson", REL_COMPANY, "acme corp"),
    ("bob", REL_COMPANY, "globex"),
    ("carol stein", REL_COMPANY, "initech"),
    ("david okafor", REL_COMPANY, "umbrella labs"),
    ("erin", REL_COMPANY, "stark industries"),
    ("grace li", REL_COMPANY, "wayne enterprises"),
    ("acme corp", REL_PLACE_FOUNDED, "new york"),
    ("globex", REL_PLACE_FOUNDED, "paris"),
    ("initech", REL_PLACE_FOUNDED, "tokyo"),
    ("umbrella labs", REL_PLACE_FOUNDED, "berlin"),
    ("stark industries", REL_PLACE_FOUNDED, "queens"),
    ("wayne enterprises", REL_PLACE_FOUNDED, "lyon"),
    ("brooklyn", REL_NEIGHBORHOOD, "new york"),
    ("queens", REL_NEIGHBORHOOD, "new york"),
    ("brooklyn", REL_NEIGHBORHOOD, "queens"),
    ("lyon", REL_NEIGHBORHOOD, "paris"),
    ("berlin", REL_NEIGHBORHOOD, "germany"),
    ("tokyo", REL_NEIGHBORHOOD, "japan"),
    ("france", REL_CAPITAL, "paris"),
    ("japan", REL_CAPITAL, "tokyo"),
    ("germany", REL_CAPITAL, "berlin"),
    ("new york", REL_CAPITAL, "brooklyn"),
    ("alice johnson", REL_ADVISOR, "bob"),
    ("carol stein", REL_ADVISOR, "david okafor"),
    ("erin", REL_ADVISOR, "frank miles"),
    ("grace li", REL_ADVISOR, "henry"),
    ("isabel cruz", REL_ADVISOR, "jack turner"),
    ("bob", REL_ADVISOR, "carol stein"),
]

ENTITY_TYPE: dict[str, str] = dict(ENTITIES)


@dataclass(frozen=True, eq=False)
class KB:
    """Broadcastable KB: surface->type plus the triple set and an index
    keyed by subj for fast alignment inside the tagging UDF.

    ``eq=False`` keeps identity hashing so the per-KB matcher index in
    operators/tagging.py can key a WeakKeyDictionary on the live object
    (an id()-keyed cache could serve a stale index after reallocation)."""

    entity_type: dict[str, str]
    triples: frozenset[tuple[str, str, str]]
    subj_index: dict[str, list[tuple[str, str]]]  # subj -> [(pred, obj)]

    @staticmethod
    def default() -> "KB":
        idx: dict[str, list[tuple[str, str]]] = {}
        for s, p, o in TRIPLES:
            idx.setdefault(s, []).append((p, o))
        return KB(dict(ENTITY_TYPE), frozenset(TRIPLES), idx)
