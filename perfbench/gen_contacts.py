"""Seeded generator for the contacts workloads.

Writes a reference-shaped master TSV (the 88 columns of
``plans.contacts.MASTER_COLUMNS``) and two enrichment sources with the
reference's header spellings, and returns the facts the output checks use. The facts are known by construction, not by
running the pipeline:

* every contact group has a unique email and a unique mobile, so no two
  groups share a dedup key and no source row matches a contact it was not
  written for on two keys;
* the copies of a group agree on every column the dedup key, the merge or
  the fill reads, up to case and surrounding blanks; they differ in
  ``seqno``, ``last_updated`` and in non-key columns that are blank or a
  sentinel (``nan``, ``None``) in some copies, so the most-complete merge
  returns the group's canonical record;
* a keyless row has no email, no full name and no mobile, so it passes
  through dedup unmerged.

The same ``(seed, spec)`` always gives byte-identical files.
"""

from __future__ import annotations

import os
import random
from dataclasses import asdict, dataclass

from bcg_contacts_data_pipeline_spark.plans.contacts import MASTER_COLUMNS

FIRST = (
    "James Mary John Patricia Robert Jennifer Michael Linda William Elizabeth "
    "David Barbara Richard Susan Joseph Jessica Thomas Sarah Charles Karen "
    "Christopher Nancy Daniel Lisa Matthew Betty Anthony Margaret Mark Sandra "
    "Donald Ashley Steven Kimberly Paul Emily Andrew Donna Joshua Michelle "
    "Kenneth Dorothy Kevin Carol Brian Amanda George Melissa Edward Deborah "
    "Aoife Siobhan Ciaran Niamh Oisin Saoirse Padraig Grainne Eoin Roisin"
).split()
LAST = (
    "Smith Johnson Williams Brown Jones Garcia Miller Davis Rodriguez Martinez "
    "Hernandez Lopez Gonzalez Wilson Anderson Thomas Taylor Moore Jackson "
    "Martin Lee Perez Thompson White Harris Sanchez Clark Ramirez Lewis "
    "Robinson Walker Young Allen King Wright Scott Torres Nguyen Hill Flores "
    "Green Adams Nelson Baker Hall Rivera Campbell Mitchell Carter Roberts "
    "O'Brien McCarthy Van-Dyke Murphy Kelly Byrne Ryan Walsh Doyle Quinn"
).split()
TITLES = ["Director", "Manager", "Engineer", "Analyst", "Consultant", "Owner", "Clerk"]
STREETS = ["High St", "Main Rd", "Church Lane", "Station Rd", "Park Ave", "Mill Way"]
TOWNS = ["Dublin", "Cork", "Leeds", "Bristol", "York", "Galway", "Bath", "Derry"]
DOMAINS = ["example.com", "mail.example.org", "corp.example.net", "example.ie"]
SENTINELS = ["nan", "None", "NaN", ""]

#: Contact categories with their shares. ``fill_*`` groups are incomplete
#: in the master and completed from a source row.
OK, BAD_EMAIL, BAD_PHONE, NO_LAST, NO_MOBILE = "ok", "bad_email", "bad_phone", "no_last", "no_mobile"
FILL_MOBILE, FILL_NAME = "fill_mobile", "fill_name"
CATEGORIES = [
    (OK, 0.62), (BAD_EMAIL, 0.05), (BAD_PHONE, 0.04), (NO_LAST, 0.04),
    (NO_MOBILE, 0.04), (FILL_MOBILE, 0.10), (FILL_NAME, 0.05),
]


@dataclass(frozen=True)
class Spec:
    """Shape of one generated input set: ``groups`` contacts of one or two
    copies each, plus ``keyless`` rows."""

    groups: int
    keyless: int


#: Facts the output checks compare against.
@dataclass(frozen=True)
class Facts:
    master_rows: int
    exported_rows: int
    error_docs: int
    fill_log_entries: int
    fill_rows: int
    needy_rows: int
    return_code: int

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class Inputs:
    master: str
    sources: list[str]
    facts: Facts

    def argv(self, out_dir: str) -> list[str]:
        return [self.master, out_dir, "--sources", *self.sources, "--single-file"]


def _pick(rng: random.Random, weighted: list[tuple[str, float]]) -> str:
    x = rng.random() * sum(w for _, w in weighted)
    for name, w in weighted:
        x -= w
        if x < 0:
            return name
    return weighted[-1][0]


def _vary_case(rng: random.Random, s: str) -> str:
    """A copy's spelling of a value the cleaner normalizes back."""
    r = rng.random()
    if r < 0.15:
        return s.upper()
    if r < 0.3:
        return f"  {s.lower()} "
    return s


def _mobile(i: int) -> str:
    """Unique 11-digit mobile per index (distinct digit strings)."""
    return f"07{(i * 7919 + 12345) % 1_000_000_000:09d}"


def _fmt_mobile(rng: random.Random, digits: str) -> str:
    r = rng.random()
    if r < 0.3:
        return f"+44 {digits[1:5]} {digits[5:]}"
    if r < 0.5:
        return f"({digits[:5]}) {digits[5:]}"
    return digits


def generate(out_dir: str, seed: int, spec: Spec) -> Inputs:
    """Write the inputs for ``spec`` under ``out_dir`` and return them with
    their facts."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    # a shuffled block of group indices keeps mobiles/emails unique
    # without revealing the group order in the values
    ids = list(range(spec.groups))
    rng.shuffle(ids)

    rows: list[list[str]] = []
    src_rows: list[tuple[str, str, str, str]] = []  # first, last, email, mobile
    exported = spec.groups + spec.keyless
    error_docs = fill_entries = fill_rows = needy = 0

    for g in range(spec.groups):
        gid = ids[g]
        cat = _pick(rng, CATEGORIES)
        first, last = rng.choice(FIRST), rng.choice(LAST)
        domain = rng.choice(DOMAINS)
        email = f"{first.lower()}.{last.lower().replace(chr(39), '')}{gid}@{domain}"
        mobile = _mobile(gid)
        copies = 1 + rng.randint(0, 1)

        rec_first, rec_last, rec_email, rec_mobile = first, last, email, mobile
        if cat == BAD_EMAIL:
            rec_email = email.replace("@", ".at.")
        elif cat == BAD_PHONE:
            rec_mobile = f"{gid % 100000:05d}"
        elif cat == NO_LAST:
            rec_last = ""
        elif cat in (NO_MOBILE, FILL_MOBILE):
            rec_mobile = ""
        elif cat == FILL_NAME:
            rec_first = rec_last = ""
        fullname = f"{first} {last}" if cat != NO_LAST else first

        # one spelling of the mobile per group: the dedup key falls back to
        # the stored digits when the email is missing or malformed
        rec_mobile_raw = _fmt_mobile(rng, rec_mobile) if rec_mobile else ""
        base = _base_record(rng, gid)
        for _ in range(copies):
            row = dict(base)
            row["firstname"] = _vary_case(rng, rec_first) if rec_first else ""
            row["lastname"] = _vary_case(rng, rec_last) if rec_last else ""
            row["fullname"] = fullname
            row["email"] = _vary_case(rng, rec_email) if rec_email else ""
            row["mobile"] = rec_mobile_raw
            row["last_updated"] = f"20{rng.randint(18, 24)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 09:30:00"
            for c in ("notes", "address2", "address3", "company_acctype", "title"):
                if rng.random() < 0.35:
                    row[c] = rng.choice(SENTINELS)
            rows.append(_ordered(row))

        # what the pipeline does to this group, derived from its category
        missing_fill = (not rec_first) or (not rec_last) or (not rec_mobile)
        final_first, final_last, final_mobile = rec_first, rec_last, rec_mobile
        if missing_fill:
            needy += copies
        if cat == FILL_MOBILE:
            src_mobile = _mobile(spec.groups + gid)
            src_rows.append((first, last.upper(), f" {email.upper()}", _fmt_mobile(rng, src_mobile)))
            if rng.random() < 0.2:  # a second accepted match; the first (min sid) wins
                src_rows.append((first.lower(), last, email, _mobile(2 * spec.groups + gid)))
            fill_entries += copies
            fill_rows += copies
            final_mobile = src_mobile
        elif cat == FILL_NAME:
            src_rows.append((first, last, email, ""))
            fill_entries += 2 * copies
            fill_rows += copies
            final_first, final_last = first, last
        elif cat == OK and rng.random() < 0.05:
            # matches on the name alone: one key of three, never a fill
            src_rows.append((first, last, f"other{gid}@example.com", ""))
        valid_email = "@" in rec_email
        valid_phone = bool(final_mobile) and 7 <= len(final_mobile) <= 15
        if not (final_first and final_last and valid_email and valid_phone):
            error_docs += 1

    for k in range(spec.keyless):
        row = _base_record(rng, spec.groups + k)
        row["last_updated"] = "2020-01-01 00:00:00"
        row["notes"] = f"walk-in {k}"
        if rng.random() < 0.5:
            row["firstname"] = rng.choice(FIRST)
            error_docs += 1  # named keyless rows fail validation
        # else: all of firstname/lastname/email missing -> junk, skipped
        needy += 1
        rows.append(_ordered(row))

    for k in range(max(1, len(src_rows) // 5)):  # strangers: no match at all
        src_rows.append((rng.choice(FIRST), rng.choice(LAST), f"stranger{k}@example.com", _mobile(3 * spec.groups + k)))
    rng.shuffle(rows)
    rng.shuffle(src_rows)
    for i, row in enumerate(rows):
        row[0] = str(i + 1 if rng.random() < 0.9 else f"{i + 1}.0")

    master = os.path.join(out_dir, "master.tsv")
    _write(master, MASTER_COLUMNS, rows)
    half = len(src_rows) // 2
    s1 = os.path.join(out_dir, "source_1.tsv")
    _write(s1, ["First Name", "Last Name", "Email Address", "Mobile Number"], src_rows[:half])
    s2 = os.path.join(out_dir, "source_2.tsv")
    _write(
        s2,
        ["Email Address", "Company", "Mobile Number", "First Name", "Last Name"],
        [(e, "Acme", m, f, l) for f, l, e, m in src_rows[half:]],
    )
    facts = Facts(
        master_rows=len(rows),
        exported_rows=exported,
        error_docs=error_docs,
        fill_log_entries=fill_entries,
        fill_rows=fill_rows,
        needy_rows=needy,
        # clean_fields nulls malformed emails before validation, so the
        # critical "invalid email format" class never fires: exit code 0
        return_code=0,
    )
    return Inputs(master, [s1, s2], facts)


def _base_record(rng: random.Random, gid: int) -> dict[str, str]:
    row = {c: "" for c in MASTER_COLUMNS}
    row["salutation"] = rng.choice(["Mr", "Ms", "Dr", ""])
    row["title"] = rng.choice(TITLES)
    row["address1"] = f"{rng.randint(1, 300)} {rng.choice(STREETS)}"
    row["address2"] = rng.choice(TOWNS)
    row["post_code"] = f"D{rng.randint(1, 24):02d} X{rng.randint(100, 999)}"
    row["deladdr1"] = row["address1"]
    row["isactive"] = rng.choice(["Y", "N", "y", "yes", ""])
    row["advertsource"] = rng.choice(["web", "fair", "referral", ""])
    row["salesno"] = str(rng.randint(1, 90)) + rng.choice(["", ".0"])
    row["company_accno"] = str(10000 + gid)
    row["company_acctype"] = rng.choice(["Gold", "Silver", "Bronze"])
    row["notes"] = f"account {gid}"
    for i in range(1, 27):
        row[f"sub{i}"] = rng.choice(["Y", "N", "", "n"])
    row["optout_emarketing"] = rng.choice(["Y", "N"])
    row["x_xs_login"] = f"user{gid}"
    row["x_phone1"] = _mobile(gid)[::-1]
    return row


def _ordered(row: dict[str, str]) -> list[str]:
    return [row[c] for c in MASTER_COLUMNS]


def _write(path: str, header: list[str], rows) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
