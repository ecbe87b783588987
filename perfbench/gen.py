"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files; the program
only ever receives those files. The contacts generators also return the
answers they planted, which the output checks compare against.

Contacts shapes follow FIXTURES.md sections 1-6: the 88-column master with
lowercase headers and quoted multi-line notes, Mailchimp variants A/B/C with
tripled-quote TAGS and leading-apostrophe coordinates, the 8-column lead list
with trailing-space names and a blank row, and two headerless lists that role
resolution must skip.
"""
import datetime
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

MASTER_COLS = (
    "seqno salutation firstname lastname title mobile directphone directfax "
    "homephone email notes address1 address2 address3 address4 deladdr5 "
    "deladdr6 post_code deladdr1 deladdr2 deladdr3 deladdr4 isactive "
    "advertsource salesno company_accno company_acctype msn_id yahoo_id "
    "skype_id address5 last_updated").split() + [
        f"sub{i}" for i in range(1, 27)] + (
    "x_region sync_contacts linkedin twitter facebook optout_emarketing "
    "campaign_wave_seqno latitude longitude geocode_status x_xs_allowlogin "
    "x_xs_clientadmin x_xs_login x_xs_password x_xs_sendclientadmin "
    "x_xs_resetpassword x_xs_sorttasksby x_tt_createtasks x_tt_pocontact "
    "x_store x_email2 x_email3 x_phone1 x_phone2 x_phone3 x_phone4 x_phone5 "
    "x_tt_extension fullname name").split()
assert len(MASTER_COLS) == 88

MC_HEAD = ["Email Address", "First Name", "Last Name", "Address",
           "Phone Number", "Mobile Number", "Store/Organisation", "Title",
           "Industry", "Sales Rep", "Purchase Option", "Group Type", "ID",
           "Brand", "MEMBER_RATING", "OPTIN_TIME", "OPTIN_IP", "CONFIRM_TIME",
           "CONFIRM_IP", "LATITUDE", "LONGITUDE", "GMTOFF", "DSTOFF",
           "TIMEZONE", "CC", "REGION"]
MC_TAIL = {
    "A": ["CLEAN_TIME", "CLEAN_CAMPAIGN_TITLE", "CLEAN_CAMPAIGN_ID", "LEID",
          "EUID", "NOTES", "TAGS"],
    "B": ["LAST_CHANGED", "LEID", "EUID", "NOTES", "TAGS"],
    "C": ["UNSUB_TIME", "UNSUB_CAMPAIGN_TITLE", "UNSUB_CAMPAIGN_ID",
          "UNSUB_REASON", "UNSUB_REASON_OTHER", "LEID", "EUID", "NOTES",
          "TAGS"],
}
LEAD_HEAD = ["First Name", "Last Name", "Job Title", "Phone", "Email",
             "Mobile", "Full Name", "Company Name"]
# data_files naming of the reference: sorted order is the fill order
SOURCE_FILES = {"1.tsv": "B", "2.tsv": "C", "3.tsv": "A", "4.tsv": "lead"}
SKIPPED_FILES = ["5.tsv", "6.tsv"]

FIRST = ("michael sarah david emma james olivia daniel chloe matthew sophie "
         "andrew grace thomas lucy joshua hannah peter zoe ryan ella liam "
         "mia noah ava jack isla oliver ruby william amelia lachlan "
         "charlotte nathan jessica samuel emily benjamin holly luke kate "
         "richard anne george rose henry claire oscar maya felix ivy").split()
LAST = ("moore smith jones brown wilson taylor nguyen johnson white martin "
        "anderson thompson walker harris lee ryan robinson kelly king davis "
        "wright evans roberts green hall wood jackson clarke patel khan "
        "o'brien mcdonald scott young mitchell campbell hughes edwards "
        "turner collins stewart morris murphy cook rogers morgan cooper "
        "bell bailey ward").split()
TITLES = ["director", "Sales Manager", "owner ", "Buyer", "store manager",
          "CEO", "purchasing officer", ""]
STREETS = ["Smith St", "George St", "High St", "Station Rd", "Park Ave",
           "Church St", "King St", "Victoria Rd"]
ORGS = ["Foodworks", "EXO Group", "Corner Deli", "Harbour Foods",
        "Green Grocer", "Metro Mart", "Fresh & Co", "Bay Traders"]
TOWNS = ["Parramatta", "Newcastle", "Geelong", "Wollongong", "Ballarat",
         "Toowoomba", "Bendigo", "Launceston", "Cairns", "Darwin"]
STATES = ["NSW", "VIC", "QLD", "WA", "SA", "TAS", "ACT", "NT"]
SUFFIX_WORDS = ("called re renewal left message follow up quote sent "
                "prefers email moved office new buyer urgent").split()
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query "
         "order group filter big stream vector").split()
LANGS = [("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def tsv_cell(v):
    v = "" if v is None else str(v)
    if any(ch in v for ch in '\t\n\r"'):
        return '"' + v.replace('"', '""') + '"'
    return v


def write_tsv(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        if header is not None:
            f.write("\t".join(tsv_cell(h) for h in header) + "\n")
        for r in rows:
            f.write("\t".join(tsv_cell(v) for v in r) + "\n")


class People:
    """Unique identities: every email and every phone number is distinct,
    so a >=2-of-3 key match happens only where it is planted."""

    def __init__(self, rng, domain):
        self.rng, self.domain, self.n = rng, domain, 0

    def make(self):
        self.n += 1
        r = self.rng
        first, last = r.choice(FIRST), r.choice(LAST)
        email = f"{first}.{last}{self.n}@{self.domain}".replace("'", "")
        mobile = "04%08d" % (self.n * 7919 % 10 ** 8)
        return {"first": first, "last": last, "email": email,
                "mobile": mobile}


def fmt_phone(digits, style):
    d = digits
    if style == 0:
        return f"({d[:2]}) {d[2:6]} {d[6:]}"
    if style == 1:
        return f"{d[:4]} {d[4:7]} {d[7:]}"
    return d


def cased(rng, s):
    return rng.choice([s, s.title(), s.upper(), " " + s.title() + " "])


def master_row(rng, seqno, p, ts, email=None, mobile=None, first=None,
               last=None, fullname=None, notes="", phones=True):
    """One 88-column master row. `phones=False` leaves mobile, directphone
    and homephone all empty."""
    first = p["first"] if first is None else first
    last = p["last"] if last is None else last
    email = p["email"] if email is None else email
    mobile = p["mobile"] if mobile is None else mobile
    if fullname is None:
        fullname = f"{first} {last}".strip()
    v = dict.fromkeys(MASTER_COLS, "")
    v.update({
        "seqno": str(seqno), "salutation": rng.choice(["Mr", "Ms", "Dr", ""]),
        "firstname": cased(rng, first) if first else "",
        "lastname": cased(rng, last) if last else "",
        "title": rng.choice(TITLES), "mobile": mobile,
        "directphone": rng.choice(["", "02%08d" % rng.randrange(10 ** 8)]),
        "directfax": rng.choice(["", "", "02%08d" % rng.randrange(10 ** 8)]),
        "homephone": rng.choice(["", "", "07%08d" % rng.randrange(10 ** 8)]),
        "email": email, "notes": notes,
        "address1": f"{rng.randrange(1, 400)} {rng.choice(STREETS)} ",
        "address2": rng.choice(["", "Suite %d" % rng.randrange(1, 40)]),
        "post_code": str(rng.randrange(2000, 7999)),
        "isactive": rng.choice(["Y", "N", ""]),
        "advertsource": rng.choice(["web", "expo", "referral", ""]),
        "salesno": str(rng.randrange(1, 60)),
        "company_accno": str(rng.randrange(1000, 99999)),
        "company_acctype": rng.choice(["retail", "wholesale", ""]),
        "last_updated": ts,
        "latitude": "-%d.%06d" % (rng.randrange(10, 40), rng.randrange(10 ** 6)),
        "longitude": "1%d.%06d" % (rng.randrange(15, 54), rng.randrange(10 ** 6)),
        "optout_emarketing": rng.choice(["Y", "N", ""]),
        "x_xs_allowlogin": rng.choice(["Y", "N"]),
        "fullname": fullname, "name": rng.choice(["", fullname]),
    })
    for i in range(1, 27):
        v[f"sub{i}"] = rng.choice(["Y", "N", "", ""])
    v.update(extra_cells(rng, first, last))
    if not phones:
        v.update(mobile="", directphone="", homephone="")
    return [v[c] for c in MASTER_COLS]


def extra_cells(rng, first, last):
    """The CRM's account, delivery, social and portal columns, filled so
    that a row averages ~760 bytes, as MergedDatabase.tsv does (~8 MB for
    10,529 rows). None of them is a name, email or phone role."""
    handle = f"{first}{last}".replace("'", "").replace(" ", "") or "contact"
    street = f"{rng.randrange(1, 400)} {rng.choice(STREETS)}"
    town = rng.choice(TOWNS)
    return {
        "address3": town, "address4": rng.choice(STATES),
        "deladdr1": rng.choice(ORGS), "deladdr2": street,
        "deladdr3": f"Attn: {first} {last}, Loading Dock {rng.randrange(1, 9)}",
        "deladdr4": town, "deladdr5": rng.choice(STATES),
        "deladdr6": str(rng.randrange(2000, 7999)), "address5": "Australia",
        "msn_id": f"{handle}{rng.randrange(99)}@msn.invalid",
        "yahoo_id": f"{handle}{rng.randrange(99)}",
        "skype_id": rng.choice(["", f"live:{handle}{rng.randrange(999)}"]),
        "x_region": rng.choice(STATES), "sync_contacts": rng.choice(["Y", "N"]),
        "linkedin": f"https://www.linkedin.com/in/{handle}-{rng.randrange(10 ** 6):06d}",
        "twitter": f"@{handle}{rng.randrange(99)}",
        "facebook": f"https://www.facebook.com/{handle}.{rng.randrange(10 ** 4)}",
        "campaign_wave_seqno": str(rng.randrange(1, 40)),
        "geocode_status": rng.choice(["OK", "ZERO_RESULTS", "PARTIAL_MATCH"]),
        "x_xs_clientadmin": rng.choice(["Y", "N"]),
        "x_xs_login": f"{handle}{rng.randrange(10 ** 4)}",
        "x_xs_password": "%064x" % rng.getrandbits(256),
        "x_xs_sendclientadmin": rng.choice(["Y", "N"]),
        "x_xs_resetpassword": "%064x" % rng.getrandbits(256),
        "x_xs_sorttasksby": rng.choice(["due", "priority", "created"]),
        "x_tt_createtasks": rng.choice(["Y", "N"]),
        "x_tt_pocontact": rng.choice(["Y", "N"]),
        "x_store": f"{rng.choice(ORGS)} {town}",
        "x_tt_extension": str(rng.randrange(100, 999)),
        "company_acctype": rng.choice(["retail", "wholesale", "franchise"]),
        "advertsource": rng.choice(["web", "expo", "referral", "trade magazine"]),
    }


def old_ts(rng):
    return "%04d-%02d-%02d %02d:%02d:%02d.000" % (
        rng.randrange(2010, 2021), rng.randrange(1, 13), rng.randrange(1, 29),
        rng.randrange(24), rng.randrange(60), rng.randrange(60))


def oneline_note(rng):
    if rng.random() < 0.5:
        return ""
    return " ".join(rng.choice(SUFFIX_WORDS) for _ in range(rng.randrange(4, 20)))


def multiline_note(rng):
    words = " ".join(rng.choice(SUFFIX_WORDS) for _ in range(rng.randrange(3, 9)))
    return f'{words}\nLeft message "{rng.choice(SUFFIX_WORDS)}"'


def source_row(kind, rng, person, email, phone, jammed=False):
    """One row of a source file for `person` with the given raw key cells."""
    first, last = person["first"].title(), person["last"].title()
    if kind == "lead":
        return [first, last, rng.choice(TITLES), phone, email,
                rng.choice(["", "04%08d" % rng.randrange(10 ** 8)]),
                f"{first} {last} ", rng.choice(ORGS)]
    if jammed:
        first, last = f"{first} {last}", ""
    lat = "'-%d.%07d" % (rng.randrange(10, 40), rng.randrange(10 ** 7))
    base = [email, first, last, f"{rng.randrange(1, 400)} {rng.choice(STREETS)}",
            phone, rng.choice(["", "04%08d" % rng.randrange(10 ** 8)]),
            rng.choice(ORGS), rng.choice(TITLES), "Grocery", "Sam", "Online",
            "Retail", str(rng.randrange(10 ** 6)), rng.choice(ORGS),
            str(rng.randrange(1, 6)), "2018-11-20 09:13:25", "203.0.113.7",
            "2018-11-20 09:13:21", "203.0.113.9", lat if kind == "B" else "-33.8",
            "151.2", "10", "11", "australia/sydney" if kind == "B"
            else "Australia/Sydney", "AU", "nsw" if kind == "B" else "NSW"]
    tags = '"FOODWORKS","EXO"'  # written as """FOODWORKS"",""EXO"""
    tail = {"A": ["2019-01-02 10:00:00", "Spring promo", "c1a2", "1234",
                  "e9f8", "", tags],
            "B": ["2019-03-04 11:22:33", "5678", "a1b2", "", tags],
            "C": ["2019-05-06 12:00:00", "Winter promo", "c9", "NORMAL",
                  "", "91011", "d4e5", "", tags]}[kind]
    return base + tail


# Shares of the reference's MergedDatabase.tsv (BASELINE.md): of 10,529
# rows, 5,209 have validation errors, 4,818 lack every phone and 1,588 an
# email (so ~1,350 lack both), and 10,529 rows merge into 6,472 golden
# records (39% of the rows are duplicates). Per identity: no phone and no
# email, else no phone, else no email, with these probabilities; an
# identity with an email has DUP_SHARE odds of 1-2 duplicate rows sharing
# that email.
NO_BOTH, NO_PHONE, NO_EMAIL, DUP_SHARE = 0.218, 0.301, 0.032, 0.597


def person_shape(rng):
    u = rng.random()
    for shape, share in (("no_both", NO_BOTH), ("no_phone", NO_PHONE),
                         ("no_email", NO_EMAIL)):
        if u < share:
            return shape
        u -= share
    return "complete"


EMAIL_RE = re.compile(r"^[^@]+@[^@]+\.[^@]+")


def raw_validation_errors(rows):
    """Validation errors the REST "validate" stage reports for the raw
    master: the rules of validate_fields.py (FIXTURES.md section 7) applied
    to uncleaned cells. Spark's trim strips spaces only, hence strip(" ")."""
    col = {c: i for i, c in enumerate(MASTER_COLS)}
    phones = ("mobile", "directphone", "homephone")
    n = 0
    for r in rows:
        first, last, email = (r[col[c]] for c in ("firstname", "lastname", "email"))
        cells = [first, last, email] + [r[col[p]] for p in phones]
        if all(c.strip(" ") == "" or c.strip(" ").lower() == "nan" for c in cells):
            continue
        name = (first.strip(" ") + " " + last.strip(" ")).strip(" ")
        if name == "" or name.lower() in ("nan", "nan nan"):
            continue
        n += (first.strip(" ") == "") + (last.strip(" ") == "")
        e = email.strip(" ")
        n += e == "" or not EMAIL_RE.search(e.lower())
        present = [r[col[p]].strip(" ") for p in phones
                   if r[col[p]].strip(" ") not in ("",) and
                   r[col[p]].strip(" ").lower() != "nan"]
        n += sum(not 7 <= sum(ch in "0123456789" for ch in p) <= 15 for p in present)
        n += not present
    return n


def contacts_batch(out, seed, n_master):
    """The master TSV plus six source files under `out/sources`, with the
    planted answers: golden-record count, change-log rows, validation
    errors and skipped files."""
    rng = random.Random(seed)
    people = People(rng, "example.com")
    fillers = People(rng, "leads.example.net")
    fillers.n = 10 ** 6  # disjoint phone block
    os.makedirs(f"{out}/sources", exist_ok=True)
    k = max(4, n_master // 200)  # rows per planted category
    rows = []        # (row, tag, payload)
    golden = 0
    fills = []       # planted change-log entries (resolved to row ids later)
    errors = {}      # tag -> errors per golden record
    src = {f: [] for f in SOURCE_FILES}
    complete = []    # complete singletons that sources may repeat
    nameonly = set()

    def add(row, tag=None, payload=None):
        rows.append((row, tag, payload))

    files = list(SOURCE_FILES)
    for _ in range(k):
        # fill targets: missing email, name+phone found in a source
        p = people.make()
        f = rng.choice(files)
        add(master_row(rng, 0, p, old_ts(rng), email=rng.choice(["", "N/A"])),
            "fill_email", (p, f))
        golden += 1
        # fill targets: missing mobile, name+email found in a source
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), mobile=""), "fill_mobile",
            (p, rng.choice(files)))
        golden += 1
        # duplicate missing its email; the fill makes it merge with its twin
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng)))
        add(master_row(rng, 0, p, old_ts(rng), email=""), "fill_merge",
            (p, rng.choice(files)))
        golden += 1
        # decoy: a source repeats only the name, so nothing is filled
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), email=""), "decoy", p)
        golden += 1
        errors.setdefault("decoy", []).append(["Missing EMAIL"])
        # missing email and no source at all
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), email=rng.choice(["", "nan"])))
        golden += 1
        errors.setdefault("no_email", []).append(["Missing EMAIL"])
        # missing email and mobile: the dedup key is the name alone, so
        # these names must be unique
        p = people.make()
        while (p["first"], p["last"]) in nameonly:
            p = people.make()
        nameonly.add((p["first"], p["last"]))
        add(master_row(rng, 0, p, old_ts(rng), email="", mobile=""))
        golden += 1
        errors.setdefault("no_email_mobile", []).append(
            ["Missing EMAIL",
             "Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)"])
        # missing last name
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), last="", fullname=p["first"]))
        golden += 1
        errors.setdefault("no_last", []).append(["Missing LASTNAME"])
        # invalid mobile
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), mobile="12345"))
        golden += 1
        errors.setdefault("bad_mobile", []).append(["Invalid phone in mobile"])
        # missing mobile, nothing to fill it from
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), mobile=rng.choice(["", "nan"])))
        golden += 1
        errors.setdefault("no_mobile", []).append(
            ["Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)"])
        # nameless row: validation skips it
        p = people.make()
        add(master_row(rng, 0, p, old_ts(rng), first="", last="", fullname=""))
        golden += 1
    while len(rows) < n_master:
        p = people.make()
        shape = person_shape(rng)
        golden += 1
        if shape == "no_both":
            # the dedup key is the name alone, so these names must be unique
            while (p["first"], p["last"]) in nameonly:
                p = people.make()
            nameonly.add((p["first"], p["last"]))
            add(master_row(rng, 0, p, old_ts(rng), email="", phones=False))
            errors.setdefault("no_email_mobile", []).append(
                ["Missing EMAIL",
                 "Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)"])
            continue
        if shape == "no_email":
            add(master_row(rng, 0, p, old_ts(rng), email=rng.choice(["", "nan"])))
            errors.setdefault("no_email", []).append(["Missing EMAIL"])
            continue
        phones = shape != "no_phone"
        note = multiline_note(rng) if rng.random() < 0.05 else oneline_note(rng)
        add(master_row(rng, 0, p, old_ts(rng), notes=note, phones=phones))
        if not phones:
            errors.setdefault("no_phone", []).append(
                ["Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)"])
        if rng.random() < DUP_SHARE:
            # duplicate rows sharing the email (case and spacing vary)
            for _ in range(rng.randrange(1, 3)):
                if len(rows) < n_master:
                    e = rng.choice([p["email"].upper(), " " + p["email"]])
                    add(master_row(rng, 0, p, old_ts(rng), email=e,
                                   notes=multiline_note(rng), phones=phones))
        elif phones:
            complete.append(p)
    rng.shuffle(rows)

    master = []
    for i, (row, tag, payload) in enumerate(rows, start=1):
        row[0] = str(i)
        master.append(row)
        if tag in ("fill_email", "fill_merge"):
            p, f = payload
            kind = SOURCE_FILES[f]
            raw = rng.choice([p["email"], p["email"].title()])
            phone = fmt_phone(p["mobile"], rng.randrange(3))
            src[f].append(source_row(kind, rng, p, raw, phone,
                                     jammed=rng.random() < 0.3))
            fills.append({"row": i, "field": "email", "old_value": row[9],
                          "new_value": raw, "source_file": f,
                          "matched_on": "name+phone"})
            later = [g for g in files if g > f]
            if later and rng.random() < 0.5:
                # a later file also matches; the earlier file wins
                g = rng.choice(later)
                src[g].append(source_row(SOURCE_FILES[g], rng, p,
                                         "other." + p["email"], phone))
        elif tag == "fill_mobile":
            p, f = payload
            phone = fmt_phone(p["mobile"], rng.randrange(3))
            src[f].append(source_row(SOURCE_FILES[f], rng, p, p["email"], phone))
            fills.append({"row": i, "field": "mobile", "old_value": row[5],
                          "new_value": phone, "source_file": f,
                          "matched_on": "name+email"})
        elif tag == "decoy":
            q = fillers.make()
            f = rng.choice(files)
            src[f].append(source_row(SOURCE_FILES[f], rng, payload,
                                     q["email"], q["mobile"]))

    # filler rows: unrelated contacts plus exact repeats of complete rows
    sizes = {"1.tsv": 0.39, "2.tsv": 0.12, "3.tsv": 0.17, "4.tsv": 0.47}
    for f, share in sizes.items():
        kind = SOURCE_FILES[f]
        while len(src[f]) < int(share * n_master):
            if complete and rng.random() < 0.3:
                p = rng.choice(complete)
                src[f].append(source_row(kind, rng, p, p["email"],
                                         fmt_phone(p["mobile"], 0)))
            else:
                q = fillers.make()
                src[f].append(source_row(kind, rng, q, q["email"],
                                         fmt_phone(q["mobile"], 2)))
        # planted rows must not all sit at the head of the file
        rng.shuffle(src[f])
    src["4.tsv"].insert(1, [" "] + [""] * 7)  # FIXTURES.md 5: blank row

    write_tsv(f"{out}/master.tsv", MASTER_COLS, master)
    for f, kind in SOURCE_FILES.items():
        head = LEAD_HEAD if kind == "lead" else MC_HEAD + MC_TAIL[kind]
        write_tsv(f"{out}/sources/{f}", head, src[f])
    # headerless lists: their first row is read as a header and matches no
    # role, so the fill must skip both files
    hl5, hl6 = [], []
    for _ in range(max(3, n_master // 100)):
        q = fillers.make()
        hl5.append([f"{q['first'].title()} {q['last'].title()}",
                    rng.choice(ORGS), q["email"], "", ""])
        hl6.append([rng.choice(ORGS), f"{q['first'].title()} & co", q["email"]])
    write_tsv(f"{out}/sources/5.tsv", None, hl5)
    write_tsv(f"{out}/sources/6.tsv", None, hl6)

    errs = [e for es in errors.values() for e in es]
    return {"golden": golden, "change_log": sorted(
                fills, key=lambda e: (e["row"], e["field"])),
            "validation_records": len(errs),
            "validation_errors": sum(len(e) for e in errs),
            "raw_validation_errors": raw_validation_errors(master),
            "skipped": SKIPPED_FILES,
            "input_bytes": os.path.getsize(f"{out}/master.tsv") + sum(
                os.path.getsize(f"{out}/sources/{f}")
                for f in os.listdir(f"{out}/sources"))}


def contacts_stream(out, seed, n_master, n_files, rows_per_file,
                    update_share=0.4):
    """A seed master plus `n_files` small drops of 88-column rows. Part of
    each drop updates identities seen earlier (later last_updated, changed
    cells), the rest are new identities. Files land in `out/pending`; the
    harness moves them into the watched directory.

    Cells here stay on one line: the streaming reader
    (ContactsStream.readContacts) parses without multiLine, so a quoted
    multi-line cell splits its row and the upsert fails on the fragment."""
    rng = random.Random(seed * 7 + 1)
    people = People(rng, "example.org")
    os.makedirs(f"{out}/pending", exist_ok=True)

    def identity_row(seq, p, ts, email=None):
        shape = p["shape"]
        if shape in ("no_email", "no_both"):
            email = ""
        return master_row(rng, seq, p, ts, email=email, notes=oneline_note(rng),
                          phones=shape not in ("no_phone", "no_both"))

    known, master = [], []
    while len(master) < n_master:
        p = dict(people.make(), shape=person_shape(rng))
        known.append(p)
        master.append(identity_row(len(master) + 1, p, old_ts(rng)))
        if p["shape"] in ("complete", "no_phone") and rng.random() < DUP_SHARE:
            for _ in range(rng.randrange(1, 3)):
                if len(master) < n_master:
                    e = rng.choice([p["email"].upper(), " " + p["email"]])
                    master.append(identity_row(len(master) + 1, p, old_ts(rng), e))
    write_tsv(f"{out}/master.tsv", MASTER_COLS, master)
    seq = n_master
    minute = 0
    t0 = datetime.datetime(2024, 1, 1)
    for k in range(n_files):
        rows = []
        for _ in range(rows_per_file):
            seq += 1
            minute += 1
            # strictly later than every earlier row of the same identity
            ts = (t0 + datetime.timedelta(minutes=minute)).strftime(
                "%Y-%m-%d %H:%M:%S.000")
            if rng.random() < update_share:
                p = rng.choice(known)
            else:
                p = dict(people.make(), shape=person_shape(rng))
                known.append(p)
            rows.append(identity_row(seq, p, ts))
        write_tsv(f"{out}/pending/drop-{k:05d}.tsv", MASTER_COLS, rows)
    return {"files": n_files, "rows": n_master + n_files * rows_per_file}


def registry_tables(out, seed, n_docs, n_customers, n_lineitems):
    """documents / customer / lineitem parquet tables shaped like the
    registry's corpus (FIXTURES.md 9): the six benchmarked queries read
    only these three."""
    rng = random.Random(seed * 13 + 5)
    os.makedirs(out, exist_ok=True)
    langs, weights = zip(*LANGS)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randrange(10, 101)))
             for _ in range(n_docs)]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    pq.write_table(docs, f"{out}/documents.parquet")
    cust = pa.table({
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_customers)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_customers)],
                                pa.int32()),
        "c_acctbal": [rng.randrange(-99999, 999999) / 100
                      for _ in range(n_customers)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_customers)]})
    pq.write_table(cust, f"{out}/customer.parquet")
    base = datetime.datetime(1995, 1, 2)
    n = n_lineitems
    qty = [float(rng.randrange(1, 51)) for _ in range(n)]
    li = pa.table({
        "l_orderkey": pa.array([rng.randrange(n // 4 + 1) for _ in range(n)],
                               pa.int64()),
        "l_partkey": pa.array([rng.randrange(20000) for _ in range(n)],
                              pa.int64()),
        "l_suppkey": pa.array([rng.randrange(1000) for _ in range(n)],
                              pa.int64()),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n)],
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rng.randrange(90000, 200000) / 100, 2)
                            for q in qty],
        "l_discount": [rng.randrange(11) / 100 for _ in range(n)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(n)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n)],
        "l_linestatus": [rng.choice("OF") for _ in range(n)],
        "l_shipdate": pa.array(
            [base + datetime.timedelta(days=rng.randrange(2500))
             for _ in range(n)], pa.timestamp("us"))})
    pq.write_table(li, f"{out}/lineitem.parquet")
