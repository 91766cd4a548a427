"""Seeded ACI catalog generator for the benchmark.

Produces the 16 tables of ``tests/aci_fixtures.py`` (same column names and
dtypes) at any size, with every edge-case class of the fixture present at a
fixed rate. Each user is first drawn as an *intent record* (membership class,
email class, partner, addresses, brns); the parquet tables are rendered from
those records, and the expected outcomes (members per scope, mirror rows per
entity, mail documents/deletes/tags) are computed from the same records by
:func:`expected`. The records never pass through Spark, so the expectations
are an independent ground truth for the program's outputs.

Snapshot B is snapshot A plus an explicit, seeded churn (:func:`apply_churn`):
removed users, new users and changed emails, drawn from a reserved pool of
users that take part in no edge case, so the effect of every change on every
mirror entity is exact. The churn's own counts are returned alongside.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
from dataclasses import dataclass, field, replace
from datetime import date, timedelta

import pandas as pd

TODAY = date(2026, 8, 13)
TODAY_S = TODAY.isoformat()

CLASS_LIFETIME_TID = 601
CLASS_COMPLIMENTARY_TID = 602
IN_DOMAIN_STATUSES = ("947", "951", "1099")
NOISE_STATUS = "999"

#: membership classes and their share of primaries; the rest are "regular".
#: Each class is one of the fixture's edge cases.
MEMBERSHIP_RATES = {
    "regular_dup": 0.05,  # exact duplicate paragraph (dedupe keeps MIN id)
    "regular_tie": 0.03,  # max join_date tie in another club (argmax tie-break)
    "regular_aff": 0.08,  # regular plus an affiliate link elsewhere
    "regular_hist": 0.08,  # plus a closed historical period
    "regular_intra": 0.03,  # plus an intraclub link
    "affiliate_only": 0.04,
    "left_recent": 0.02,  # inside the 1-year grace window only
    "left_old": 0.02,  # outside every window: not a member
    "future_join": 0.01,  # join > today: not a member
    "null_join": 0.01,  # only a NULL-join paragraph: not a member
    "lifetime": 0.01,
    "complimentary": 0.01,
}
#: email classes and their share (of primaries and of partners)
EMAIL_RATES = {"null": 0.02, "empty": 0.02, "noemail": 0.02, "example": 0.02, "messy": 0.10}
NOISE_STATUS_RATE = 0.02
PARTNER_RATE = 0.12
PARTNER_IS_PRIMARY_RATE = 0.01
SHARED_EMAIL_RATE = 0.01
LEADER_RATE = 0.02
NO_MAILING_RATE = 0.05
BRNS_RATE = 0.30
BRNS_DUP_RATE = 0.02
AUDIENCE_RATE = 0.70
AUDIENCE_CLEANED_RATE = 0.05
AUDIENCE_STALE_RATE = 0.03
#: the reserved pool the churn is drawn from, as a share of primaries
CHURN_POOL_RATE = 0.10
#: share of the primaries snapshot B changes (removed, new, changed email)
CHURN_RATE = 0.02
N_CLUBS = 40
N_REGIONS = 6


@dataclass
class Person:
    uid: int
    email: str | None  # users.mail, also member_search.email for primaries
    first_name: str | None
    last_name: str
    birth_date: str


@dataclass
class Primary(Person):
    cls: str = "regular"
    status: str = "947"
    home_club: int = 1
    other_club: int = 1  # affiliate / tie club where the class uses one
    join: str = "2020-01-01"
    partner_uid: int | None = None
    search_email: str | None = None  # differs from `email` only for shared-email losers
    n_addresses: int = 0
    has_mailing: bool = False
    brns_csv: str | None = None
    expire: str = "2027-01-15"
    join_year: str = "2010"


@dataclass
class Catalog:
    """Intent records of one snapshot plus its fixed dimension tables."""

    seed: int
    n_clubs: int
    n_regions: int
    primaries: dict[int, Primary]
    partners: dict[int, Person]
    leadership: list[dict]
    audience: list[dict]
    churn_pool: list[int] = field(default_factory=list)
    next_uid: int = 0

    def frames(self) -> dict[str, pd.DataFrame]:
        return _render(self)


# --------------------------------------------------------------------- build


def _exact_classes(rng: random.Random, uids: list[int], rates: dict[str, float],
                   default: str) -> dict[int, str]:
    """Assign classes at exact shares: round(rate * n) uids per class."""
    order = list(uids)
    rng.shuffle(order)
    out: dict[int, str] = {}
    i = 0
    for name, rate in rates.items():
        k = round(rate * len(order))
        for u in order[i:i + k]:
            out[u] = name
        i += k
    for u in order[i:]:
        out[u] = default
    return out


def _email(uid: int, cls: str, prefix: str = "user") -> str | None:
    if cls == "null":
        return None
    if cls == "empty":
        return ""
    if cls == "noemail":
        return f"{prefix}{uid}@noemail.com"
    if cls == "example":
        return f"{prefix}{uid}@example.com"
    if cls == "messy":  # mixed case plus trailing spaces: the trim/lower path
        return f"{prefix.title()}{uid}@Mail.test  "
    return f"{prefix}{uid}@mail.test"


def _birth(rng: random.Random) -> str:
    return date(1940 + rng.randrange(60), 1 + rng.randrange(12), 1 + rng.randrange(28)).isoformat()


def build_catalog(seed: int, n_primaries: int) -> Catalog:
    """Snapshot A: `n_primaries` member_search rows plus their partners."""
    n_clubs, n_regions = N_CLUBS, N_REGIONS
    rng = random.Random(seed)
    uids = list(range(1, n_primaries + 1))
    mcls = _exact_classes(rng, uids, MEMBERSHIP_RATES, "regular")
    ecls = _exact_classes(rng, uids, EMAIL_RATES, "clean")
    noise = set(rng.sample(uids, round(NOISE_STATUS_RATE * n_primaries)))

    primaries: dict[int, Primary] = {}
    for uid in uids:
        home = 1 + rng.randrange(n_clubs)
        other = 1 + (home + rng.randrange(1, n_clubs)) % n_clubs
        other = other if other != home else 1 + home % n_clubs
        n_addr = rng.choice((0, 1, 1, 2, 3))
        primaries[uid] = Primary(
            uid=uid,
            email=_email(uid, ecls[uid]),
            first_name=None if rng.random() < 0.1 else f"First{uid}",
            last_name=f"Last{uid}",
            birth_date=_birth(rng),
            cls=mcls[uid],
            status=NOISE_STATUS if uid in noise else rng.choice(IN_DOMAIN_STATUSES),
            home_club=home,
            other_club=other,
            join=date(2000 + rng.randrange(25), 1 + rng.randrange(12), 1 + rng.randrange(28)).isoformat(),
            n_addresses=n_addr,
            has_mailing=n_addr > 0,
            expire=date(2026 + rng.randrange(3), 1 + rng.randrange(12), 15).isoformat(),
            join_year=str(2000 + rng.randrange(20)),
        )
        p = primaries[uid]
        p.search_email = p.email
        if rng.random() < BRNS_RATE:
            nums = [f"{uid}{j}" for j in range(1 + rng.randrange(3))]
            if rng.random() < BRNS_DUP_RATE / BRNS_RATE:
                nums.append(nums[0])  # duplicate number inside one CSV
            p.brns_csv = " " + " , ".join(nums) + " "

    # "stable" primaries take part in no edge case; every entangled role below
    # and the churn pool are disjoint slices of them
    stable = [u for u in uids if mcls[u] == "regular" and ecls[u] == "clean"
              and primaries[u].status != NOISE_STATUS]
    rng.shuffle(stable)
    cursor = 0

    def take(k: int) -> list[int]:
        nonlocal cursor
        out = stable[cursor:cursor + k]
        cursor += k
        return out

    # addresses but no mailing one: only among non-stable users (stable users
    # keep the simple one-mailing-address shape)
    stable_set = set(stable)
    with_addr = [u for u in uids if primaries[u].n_addresses and u not in stable_set]
    for uid in rng.sample(with_addr, min(len(with_addr), round(NO_MAILING_RATE * n_primaries))):
        primaries[uid].has_mailing = False

    # partner-is-primary: p's partner is another (stable) primary q
    pip = take(2 * round(PARTNER_IS_PRIMARY_RATE * n_primaries))
    for p_uid, q_uid in zip(pip[0::2], pip[1::2]):
        primaries[p_uid].partner_uid = q_uid
    # shared email: an affiliate-only loser takes a stable regular winner's email
    losers = [u for u in uids if mcls[u] == "affiliate_only" and ecls[u] == "clean"]
    rng.shuffle(losers)
    winners = take(round(SHARED_EMAIL_RATE * n_primaries))
    for loser, winner in zip(losers, winners):
        primaries[loser].search_email = primaries[winner].email
    leaders = take(round(LEADER_RATE * n_primaries))
    churn_pool = take(round(CHURN_POOL_RATE * n_primaries))

    # partner-only users, uids after the primaries
    next_uid = n_primaries + 1
    partners: dict[int, Person] = {}
    entangled = set(pip) | set(winners) | set(leaders) | set(churn_pool)
    candidates = [u for u in uids if u not in entangled and primaries[u].partner_uid is None]
    rng.shuffle(candidates)
    n_partnered = round(PARTNER_RATE * n_primaries)
    pcls = _exact_classes(rng, list(range(n_partnered)), EMAIL_RATES, "clean")
    for i, uid in enumerate(sorted(candidates[:n_partnered])):
        puid = next_uid
        next_uid += 1
        partners[puid] = Person(
            uid=puid, email=_email(puid, pcls[i], "partner"),
            first_name=f"PFirst{puid}", last_name=f"Last{uid}", birth_date=_birth(rng),
        )
        primaries[uid].partner_uid = puid

    leadership = _leadership(rng, leaders, n_clubs, n_regions)
    audience = _audience(rng, primaries)
    return Catalog(seed, n_clubs, n_regions, primaries, partners, leadership, audience,
                   churn_pool, next_uid)


def _leadership(rng: random.Random, leaders: list[int], n_clubs: int, n_regions: int) -> list[dict]:
    """Closed, open and ended intervals per entity, plus NULL-start rows,
    orphan entities, duplicate natural keys and NULL-role committee rows."""
    rows: list[dict] = []
    it = itertools.cycle(leaders)

    def row(etype, euid, role, person, start, end, via_member=False):
        rows.append(dict(
            entity_uid=euid, entity_type=etype, role_tid=role,
            role_name={801: "President", 802: "Treasurer"}.get(role),
            user_uid=None if via_member else person, member_uid=person if via_member else None,
            start_date=start, end_date=end,
        ))

    entities = [("ssp_club", c) for c in range(1, n_clubs + 1)] + [
        ("ssp_region", r) for r in range(1, n_regions + 1)]
    entities += [("ssp_international_leadership", 0), ("ssp_standing_committees", 901)]
    for i, (etype, euid) in enumerate(entities):
        row(etype, euid, 801, next(it), "2023-01-01", "2025-01-01")  # closed, straddles probes
        row(etype, euid, 802, next(it), "2024-01-01", None, via_member=i % 2 == 0)  # open
        row(etype, euid, 801, next(it), "2020-01-01", "2022-01-01")  # ended
        if i % 5 == 0:
            row(etype, euid, 801, next(it), None, None)  # NULL start: dropped
        if i % 7 == 0:  # duplicate natural key of the open row, later end
            dup = dict(rows[-2] if i % 5 else rows[-3])
            dup["end_date"] = "2030-01-01"
            rows.append(dup)
    row("ssp_club", 9999, 801, next(it), "2024-01-01", None)  # orphan entity
    row("ssp_standing_committees", 901, None, next(it), "2024-02-01", None)  # implicit Chair
    return rows


def _mc_id(email: str) -> str:
    return hashlib.md5(email.strip().lower().encode()).hexdigest()


def _audience(rng: random.Random, primaries: dict[int, Primary]) -> list[dict]:
    """Remote Mailchimp state: most members, some cleaned, plus stale
    remote-only addresses (deleted by retain unless cleaned)."""
    out = []
    for uid, p in primaries.items():
        if p.email and p.email.strip() and rng.random() < AUDIENCE_RATE:
            status = "cleaned" if rng.random() < AUDIENCE_CLEANED_RATE else "subscribed"
            out.append(dict(id=_mc_id(p.email), email_address=p.email.strip().lower(), status=status))
    for i in range(round(AUDIENCE_STALE_RATE * len(primaries))):
        e = f"gone{i}@x.test"
        out.append(dict(id=_mc_id(e), email_address=e, status="cleaned" if i % 10 == 0 else "subscribed"))
    return out


# --------------------------------------------------------------------- churn


@dataclass
class Churn:
    removed: list[int]
    changed: list[int]
    added: list[int]

    def counts(self) -> dict[str, int]:
        return {"removed": len(self.removed), "changed": len(self.changed), "added": len(self.added)}


def apply_churn(cat: Catalog, seed: int) -> tuple[Catalog, Churn]:
    """Snapshot B = A plus an explicit delta over `CHURN_RATE` of the primaries,
    split evenly between removed users, changed emails and new users. Only
    users of the reserved churn pool are touched."""
    rng = random.Random(seed * 7919 + 1)
    k = max(1, round(CHURN_RATE * len(cat.primaries) / 3))
    pool = list(cat.churn_pool)
    rng.shuffle(pool)
    removed, changed = sorted(pool[:k]), sorted(pool[k:2 * k])
    prim = {u: replace(p) for u, p in cat.primaries.items() if u not in set(removed)}
    for u in changed:
        prim[u].email = prim[u].search_email = f"changed{u}@mail.test"
    added = []
    uid = cat.next_uid
    for _ in range(k):
        home = 1 + rng.randrange(cat.n_clubs)
        n_addr = rng.choice((1, 1, 2))
        p = Primary(
            uid=uid, email=f"user{uid}@mail.test", first_name=f"First{uid}",
            last_name=f"Last{uid}", birth_date=_birth(rng), cls="regular",
            status=rng.choice(IN_DOMAIN_STATUSES), home_club=home, other_club=home,
            join=date(2026, 1 + rng.randrange(6), 1 + rng.randrange(28)).isoformat(),
            n_addresses=n_addr, has_mailing=True,
            brns_csv=f" {uid}0 , {uid}1 " if rng.random() < BRNS_RATE else None,
        )
        p.search_email = p.email
        prim[uid] = p
        added.append(uid)
        uid += 1
    pool_left = [u for u in cat.churn_pool if u not in set(removed) | set(changed)]
    b = replace(cat, primaries=prim, churn_pool=pool_left, next_uid=uid)
    return b, Churn(removed, changed, added)


# --------------------------------------------------------------------- render


def _para_rows(p: Primary, pid: int) -> list[dict]:
    def para(club, join, leave, kind, cls=None, ptype="membership", status=1):
        nonlocal pid
        pid += 1
        return dict(paragraph_id=pid, parent_id=p.uid, ptype=ptype, status=status,
                    club_nid=club, join_date=join, leave_date=leave,
                    membership_class_tid=cls, link_kind=kind)

    c = p.cls
    home = "field_home_club"
    if c == "affiliate_only":
        return [para(p.other_club, p.join, None, "field_memberships")]
    if c == "left_recent":
        return [para(p.home_club, "2018-01-01", (TODAY - timedelta(days=100)).isoformat(), home)]
    if c == "left_old":
        return [para(p.home_club, "2010-01-01", (TODAY - timedelta(days=500)).isoformat(), home)]
    if c == "future_join":
        return [para(p.home_club, (TODAY + timedelta(days=200)).isoformat(), None, home)]
    if c == "null_join":
        return [para(p.home_club, None, None, home)]
    cls_tid = {"lifetime": CLASS_LIFETIME_TID, "complimentary": CLASS_COMPLIMENTARY_TID}.get(c)
    rows = [para(p.home_club, p.join, None, home, cls_tid)]
    if c == "regular_dup":
        rows.append(para(p.home_club, p.join, None, home))
    elif c == "regular_tie":
        rows.append(para(p.other_club, p.join, None, home))
    elif c == "regular_aff":
        rows.append(para(p.other_club, "2021-02-02", None, "field_memberships"))
    elif c == "regular_hist":
        rows.append(para(p.home_club, "1999-01-01", "2005-01-01", home))
    elif c == "regular_intra":
        rows.append(para(p.home_club, "2022-03-03", None, "field_intraclub_memberships"))
    return rows


def _render(cat: Catalog) -> dict[str, pd.DataFrame]:
    rng = random.Random(cat.seed * 31 + 7)
    people: list[Person] = sorted(
        list(cat.primaries.values()) + list(cat.partners.values()), key=lambda p: p.uid)
    partner_uids = {p.partner_uid for p in cat.primaries.values() if p.partner_uid}
    people = [p for p in people if isinstance(p, Primary) or p.uid in partner_uids]
    users = [
        dict(uid=p.uid, mail=p.email, login=1_500_000_000 + p.uid * 86_400,
             status=0 if p.uid % 23 == 0 else 1, first_name=p.first_name,
             last_name=p.last_name, birth_date=p.birth_date, pass_hash=f"$P$hash{p.uid}",
             gender=rng.choice(["m", "f", None]), race_tid=rng.choice([701, 702, None]),
             blue_beret_mail=rng.choice([True, False, None]), publish_info=rng.choice([True, False]),
             special_needs=p.uid % 9 == 0, ada_parking=p.uid % 21 == 0)
        for p in people
    ]
    by_uid = {p.uid: p for p in people}
    prim = [cat.primaries[u] for u in sorted(cat.primaries)]
    search = []
    for p in prim:
        pu = by_uid.get(p.partner_uid) if p.partner_uid else None
        search.append(dict(
            user_id=p.uid, email=p.search_email, first_name=p.first_name, last_name=p.last_name,
            birthdate=p.birth_date, personal_status_id=p.status,
            partner_user_id=p.partner_uid,
            partner_email=pu.email if pu else None,
            partner_first_name=pu.first_name if pu else None,
            partner_last_name=pu.last_name if pu else None,
            partner_birthdate=pu.birth_date if pu else None,
            membership_expire=p.expire, membership_join_year=p.join_year,
        ))
    paras = []
    pid = 1000
    for p in prim:
        rows = _para_rows(p, pid)
        pid += len(rows)
        paras.extend(rows)
    # noise rows: orphan parent, foreign ptype, inactive, international (no club)
    for i, (parent, ptype, status, club, kind) in enumerate([
        (10**9, "membership", 1, 1, "field_home_club"),
        (prim[0].uid, "noise", 1, 2, "field_home_club"),
        (prim[1].uid, "membership", 0, 2, "field_home_club"),
        (prim[2].uid, "ssp_international_membership", 1, None, None),
    ]):
        pid += 1
        paras.append(dict(paragraph_id=pid, parent_id=parent, ptype=ptype, status=status,
                          club_nid=club, join_date="2020-01-01", leave_date=None,
                          membership_class_tid=None, link_kind=kind))

    clubs = [dict(uid=c, number=None if c % 17 == 8 else 100 + c, name=f"Club {c}",
                  region_uid=1 + c % cat.n_regions, active=c % 13 != 7)
             for c in range(1, cat.n_clubs + 1)]
    regions = [dict(uid=r, number=10 + r, name=f"Region {r}", active=True)
               for r in range(1, cat.n_regions + 1)]
    taxonomy = [
        dict(tid=CLASS_LIFETIME_TID, vid="membership_class", name="Lifetime"),
        dict(tid=CLASS_COMPLIMENTARY_TID, vid="membership_class", name="Complimentary"),
        dict(tid=701, vid="ssp_race", name="Race A"),
        dict(tid=702, vid="ssp_race", name="Race B"),
        dict(tid=801, vid="roles", name="President"),
        dict(tid=802, vid="roles", name="Treasurer"),
    ]
    addresses = []
    apid = 10**7
    for p in prim:
        for d in range(p.n_addresses):
            apid += 1
            addresses.append(dict(
                paragraph_id=apid, user_uid=p.uid, delta=d,
                street_address=f"{p.uid * 10 + d} Main St",
                street_address_2=None if d else "Apt 1", city=f"City{p.uid % 50}",
                state=["AZ", "OH", "TX"][p.uid % 3], zip_code=f"{(10000 + p.uid) % 100000:05d}",
                country="US", is_primary=d == 0,
                is_mailing_address=p.has_mailing and d == p.n_addresses - 1,
            ))
    brns = [dict(user_id=p.uid, brns_values=p.brns_csv) for p in prim if p.brns_csv]
    brn_numbers = [dict(user_id=p.uid, number=n.strip())
                   for p in prim if p.brns_csv for n in p.brns_csv.split(",")]
    air = []
    for aid, p in enumerate(prim[: max(1, len(prim) // 50)], start=1):
        for j in range(1 + aid % 3):
            air.append(dict(
                airstream_id=aid, paragraph_id=7 * 10**7 + aid * 10 + j,
                user_id=p.uid if aid % 5 else None, include_partner=bool((aid + j) % 2),
                join_date=date(2015 + j * 2, 1, 1).isoformat(),
                leave_date=None if j == aid % 3 else date(2016 + j * 2, 12, 31).isoformat(),
                vin=f"VIN{aid:05d}", model=rng.choice(["Flying Cloud", "Bambi", None]),
                rig_type=rng.choice(["Trailer", "Class A", "Class B"]), year=1990 + aid % 30,
                length=round(16.0 + (aid % 20) * 1.5, 2),
            ))
    merge_field_defs = [
        dict(tag="FNAME", name="First Name", type="text"),
        dict(tag="LNAME", name="Last Name", type="text"),
        dict(tag="BDAY", name="Birthday", type="birthday"),
        dict(tag="JOINED", name="Join Date", type="date"),
        dict(tag="CLUBNUM", name="Club Number", type="number"),
        dict(tag="WAYTOOLONGTAG", name="Invalid", type="text"),
    ]
    remote_merge_fields = [
        dict(tag="FNAME", name="First Name", type="text"),
        dict(tag="LNAME", name="Surname", type="text"),
        dict(tag="OBSOLETE", name="Old Field", type="text"),
    ]
    user_roles = [dict(user_uid=p.uid, role=r) for p in prim
                  for r in ["member"] + (["webmaster"] if p.uid % 6 == 0 else [])
                  + (["administrator"] if p.uid % 15 == 0 else [])]
    microsite = [dict(user_uid=p.uid, target_uid=1 + p.uid % cat.n_clubs)
                 for p in prim if p.uid % 6 == 0]
    microsite.append(dict(user_uid=prim[0].uid, target_uid=99999))
    return dict(
        users=pd.DataFrame(users), member_search=pd.DataFrame(search),
        membership_paragraphs=pd.DataFrame(paras), clubs=pd.DataFrame(clubs),
        regions=pd.DataFrame(regions), taxonomy=pd.DataFrame(taxonomy),
        leadership=pd.DataFrame(cat.leadership), addresses=pd.DataFrame(addresses),
        brns=pd.DataFrame(brns), brn_numbers=pd.DataFrame(brn_numbers),
        airstreams=pd.DataFrame(air), mailchimp_audience=pd.DataFrame(cat.audience),
        merge_field_defs=pd.DataFrame(merge_field_defs),
        remote_merge_fields=pd.DataFrame(remote_merge_fields),
        user_roles=pd.DataFrame(user_roles), microsite_links=pd.DataFrame(microsite),
    )


def write_catalog(cat: Catalog, out_dir: str) -> dict[str, int]:
    """Write every table as one parquet file; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in cat.frames().items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        rows[name] = len(df)
    return rows


# --------------------------------------------------------------------- model


def _usable(e: str | None) -> bool:
    return e is not None and e.strip(" ") != ""


def _norm(e: str) -> str:
    return e.strip(" ").lower()


def _valid_mail(e: str | None) -> bool:
    if not _usable(e):
        return False
    n = _norm(e)
    return not (n.endswith("noemail.com") or n.endswith("example.com"))


def _active_links(p: Primary, strict: bool) -> list[tuple[int, bool]]:
    """(club, is_regular_link) of the periods live today; strict = club-query
    window, else the all-members 1-year grace window."""
    c = p.cls
    if c in ("left_old", "future_join", "null_join"):
        return []
    if c == "left_recent":
        return [] if strict else [(p.home_club, True)]
    if c == "affiliate_only":
        return [(p.other_club, False)]
    links = [(p.home_club, True)]
    if c == "regular_tie":
        links.append((p.other_club, True))
    elif c == "regular_aff":
        links.append((p.other_club, False))
    return links


def members(cat: Catalog, clubs: set[int] | None = None) -> dict[int, Primary]:
    """uid -> row of `queries.members`, unscoped (clubs=None) or scoped to a
    club set (the club query's strict window, email dedup after scoping)."""
    partner_targets = {p.partner_uid for p in cat.primaries.values() if p.partner_uid}
    cand = []
    for uid, p in cat.primaries.items():
        if p.status == NOISE_STATUS or uid in partner_targets:
            continue
        links = _active_links(p, strict=clubs is not None)
        if clubs is not None:
            links = [lk for lk in links if lk[0] in clubs]
        if links:
            cand.append((0 if any(r for _, r in links) else 1, uid, p))
    best: dict[str, tuple[int, int, Primary]] = {}
    for prio, uid, p in cand:
        key = _norm(p.search_email) if _usable(p.search_email) else f"\x00uid:{uid}"
        if key not in best or (prio, uid) < best[key][:2]:
            best[key] = (prio, uid, p)
    return {uid: p for _, uid, p in best.values()}


def scope_clubs(cat: Catalog, club: int | None = None, region: int | None = None) -> set[int]:
    out = set()
    if club is not None:
        out.add(club)
    if region is not None:
        out |= {c for c in range(1, cat.n_clubs + 1) if 1 + c % cat.n_regions == region}
    return out


def _lead_keys(cat: Catalog) -> set[tuple]:
    active = {c for c in range(1, cat.n_clubs + 1) if c % 13 != 7}
    keys = set()
    for r in cat.leadership:
        person = r["user_uid"] if r["user_uid"] is not None else r["member_uid"]
        if (r["entity_type"] == "ssp_club" and r["start_date"] is not None
                and person is not None and r["entity_uid"] in active):
            keys.add((r["entity_uid"], person, r["role_tid"] or 0, r["start_date"]))
    return keys


def mirror_keys(cat: Catalog) -> dict[str, set]:
    """Mirror key set per `sync.app_sync.LOAD_ORDER` entity (emails stand in
    for the email-derived ids; the map is one-to-one)."""
    mem = members(cat)
    people: dict[int, str] = {}
    for uid, p in mem.items():
        if _usable(p.search_email):
            people[uid] = p.search_email
        if p.partner_uid is not None:
            pe = (cat.partners.get(p.partner_uid) or cat.primaries.get(p.partner_uid)).email
            if _usable(pe):
                people[p.partner_uid] = pe
    for r in cat.leadership:
        person = r["user_uid"] if r["user_uid"] is not None else r["member_uid"]
        if r["start_date"] is not None and person in cat.primaries:
            if _usable(cat.primaries[person].email):
                people[person] = cat.primaries[person].email
    addr, brns = set(), set()
    for uid, e in people.items():
        p = cat.primaries.get(uid)
        if p is None:
            continue
        if p.has_mailing:
            addr.add(_norm(e))
        if p.brns_csv:
            brns |= {(_norm(e), n.strip()) for n in p.brns_csv.split(",") if n.strip()}
    return {
        "regions": set(range(1, cat.n_regions + 1)),
        "clubs": {c for c in range(1, cat.n_clubs + 1) if c % 13 != 7},
        "users": {_norm(e) for e in people.values()},
        "members": {_norm(p.search_email) for p in mem.values() if _usable(p.search_email)},
        "addresses": addr,
        "brns": brns,
        "leadership_club": _lead_keys(cat),
    }


def expected_sync(a: Catalog, b: Catalog) -> dict[str, dict[str, dict[str, int]]]:
    """Per-entity {upserted, deleted} of the first run (A into an empty
    mirror) and of the incremental run (B into A's mirror)."""
    ka, kb = mirror_keys(a), mirror_keys(b)
    return {
        "first": {n: {"upserted": len(k), "deleted": 0} for n, k in ka.items()},
        "incr": {n: {"upserted": len(kb[n]), "deleted": len(ka[n] - kb[n])} for n in ka},
    }


def expected_mail(cat: Catalog, club: int | None = None, region: int | None = None) -> dict[str, int]:
    """Journal counts of one `sync.mail_sync.run_job`: documents landed,
    audience deletes, tag updates."""
    scoped = club is not None or region is not None
    mem = members(cat, scope_clubs(cat, club, region) if scoped else None)
    ids = set()
    for p in mem.values():
        if not _valid_mail(p.search_email):
            continue
        ids.add(_mc_id(p.search_email))
        if p.partner_uid is not None:
            pe = (cat.partners.get(p.partner_uid) or cat.primaries.get(p.partner_uid)).email
            if _valid_mail(pe):
                ids.add(_mc_id(pe))
    docs = sum(
        1 + (p.partner_uid is not None and _valid_mail(
            (cat.partners.get(p.partner_uid) or cat.primaries.get(p.partner_uid)).email))
        for p in mem.values() if _valid_mail(p.search_email)
    )
    deletes = sum(1 for r in cat.audience if r["status"] != "cleaned" and r["id"] not in ids)
    return {"upserted": docs, "deleted": deletes, "tag_updates": 4 * docs}
