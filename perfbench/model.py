"""Pure-Python model of the facts a `tx_serve` client committed, and of the
three queries the workload sends.

Visibility follows the store's documented semantics (store.FactStore
.snapshot): a fact is visible at tx T when its tx <= T; a value is live
when the newest fact for (e, a, v) is an assert, a retract outranking an
assert of the same tx; a cardinality-one attribute shows only its newest
live value per entity; a historical read sees every fact, retractions
included. Reference values are kept as ("ref", id) so they never compare
equal to a plain integer.
"""

from __future__ import annotations

from collections import Counter, defaultdict

MIN_FRIEND_AGE = 40


def ref(eid: int) -> tuple[str, int]:
    return ("ref", int(eid))


class FactModel:
    def __init__(self, many_attrs: set[str]):
        self.many = set(many_attrs)
        self.facts: list[tuple] = []  # (e, a, v, tx, added)

    def add(self, e: int, a: str, v, tx: int, added: bool = True) -> None:
        self.facts.append((int(e), a, v, int(tx), bool(added)))

    def history(self, as_of: int | None = None) -> list[tuple]:
        return [f for f in self.facts if as_of is None or f[3] <= as_of]

    def visible(self, as_of: int | None = None) -> list[tuple]:
        """Live (e, a, v, tx) facts at `as_of` (None = latest)."""
        newest: dict[tuple, tuple[int, bool]] = {}
        for e, a, v, tx, added in self.history(as_of):
            key = (e, a, v)
            cur = newest.get(key)
            # newest tx wins; within one tx a retract outranks an assert
            if cur is None or tx > cur[0] or (tx == cur[0] and not added):
                newest[key] = (tx, added)
        live = [(e, a, v, tx) for (e, a, v), (tx, ok) in newest.items() if ok]
        latest_one: dict[tuple, tuple] = {}
        out = []
        for fact in live:
            e, a, _v, tx = fact
            if a in self.many:
                out.append(fact)
            elif (e, a) not in latest_one or tx > latest_one[(e, a)][3]:
                latest_one[(e, a)] = fact
        out.extend(latest_one.values())
        return out

    def live_values(self, e: int, a: str, as_of: int | None = None) -> list:
        return [v for (fe, fa, v, _tx) in self.visible(as_of) if fe == e and fa == a]


def friend_counts_by_city(facts: list[tuple]) -> Counter:
    """The 2-hop query: per city name, the number of (person, friend)
    pairs whose person lives in the city and whose friend is older than
    MIN_FRIEND_AGE."""
    by_attr: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    for e, a, v, _tx in facts:
        by_attr[a][e].append(v)
    out: Counter = Counter()
    for p, cities in by_attr["person/city"].items():
        for city in cities:
            for cname in by_attr["city/name"].get(city[1], []):
                for friend in by_attr["person/friend"].get(p, []):
                    ages = by_attr["person/age"].get(friend[1], [])
                    out[cname] += sum(1 for age in ages if age > MIN_FRIEND_AGE)
    return +out  # drop zero counts: a group with no binding has no row


def tag_versions_by_person(history: list[tuple]) -> Counter:
    """The historical query: per person, the number of tag facts ever
    written, asserts and retractions alike."""
    return Counter(e for e, a, _v, _tx, _added in history if a == "person/tag")
