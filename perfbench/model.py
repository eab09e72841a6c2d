"""Pure-Python model of routing and subscription matching, written
against the golden subject grammar and independent of the package:

- publish subjects: ``UPDATES.STORAGE._.<p>._``,
  ``UPDATES.STORAGE._.<p>._.<c>._``,
  ``UPDATES.STORAGE._.<p>._.<c>._.OBJECT._.<shared>._.<id>._`` and the
  same with ``OBJECTGROUP``;
- query subjects end in ``._`` (exactly this node) or ``.>`` (this
  node and every descendant, i.e. a prefix match on ``<base>.``);
- routing: a PROJECT or COLLECTION emit publishes one subject per
  relation; an OBJECTGROUP emit one per object group of the relation;
  an OBJECT emit one per object group plus one object subject. The
  event's own resource id fills the last id slot in every case.
"""

from __future__ import annotations

PROJECT, COLLECTION, OBJECT, OBJECTGROUP = 1, 2, 3, 4
_PREFIX = "UPDATES.STORAGE"


def base(ids: list[str], object_group: bool = False) -> str:
    out = _PREFIX
    for i, rid in enumerate(ids):
        if i == 2:
            out += "._." + ("OBJECTGROUP" if object_group else "OBJECT")
        out += "._." + rid
    return out


def exact(ids: list[str], object_group: bool = False) -> str:
    return base(ids, object_group) + "._"


def subtree(ids: list[str], object_group: bool = False) -> str:
    return base(ids, object_group) + ".>"


def route(req: dict) -> list[str]:
    """Publish subjects of one emit request, in routing order."""
    rid, kind = req["resource_id"], req["event_resource"]
    out = []
    for rel in req["relations"]:
        if kind == PROJECT:
            out.append(exact([rid]))
        elif kind == COLLECTION:
            out.append(exact([rel["project"], rid]))
        elif kind in (OBJECT, OBJECTGROUP):
            for og in rel["object_groups"] or []:
                out.append(
                    exact([rel["project"], rel["collection"], og["shared_object_group_id"], rid],
                          object_group=True)
                )
            if kind == OBJECT:
                out.append(exact([rel["project"], rel["collection"], rel["shared_object"], rid]))
    return out


def matches(filter_subject: str, subject: str) -> bool:
    if filter_subject.endswith(".>"):
        return subject.startswith(filter_subject[:-1])
    return subject == filter_subject


def expected_pairs(filters: dict[str, str], events: list[tuple[int, str]]) -> set[tuple[str, int, str]]:
    """(group, seq, subject) for every event each group must receive."""
    return {
        (gid, seq, subj)
        for gid, flt in filters.items()
        for seq, subj in events
        if matches(flt, subj)
    }
