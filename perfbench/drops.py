"""Seeded insurance policy drops and the per-dataset config the pipeline reads.

The drop shape follows the reference's SyntheticGeneralData ``PolicyData``
sample: one row per policy, with an insured party, policy dates, a state
code, a line of business and a written premium.  Every drop carries a few
rows the config is meant to catch:

- ``LOBCode = TEST`` rows, dropped by the ``filterrows`` transform;
- negative premiums, quarantined by the ``after_transform`` DQ rule;
- state codes outside the lookup, mapped to ``N/A``.

The generator also returns, per drop, the values the pipeline should
produce (cleanse rows and premium sum, quarantined rows, consume rows), so
the benchmark can check the program's outputs without trusting it.

For the upsert workload each drop mixes new insureds with returning ones
drawn from earlier drops: two thirds come back under the same customer
number (exact match), one third with a new customer number and a misspelt
name (fuzzy match on name prefix plus date of birth).  Names follow a
Zipf-like list whose head matches real-world shares, and dates of birth are
uniform over 60 years, so a new insured now and then shares the date of birth
and a similar name with a returning one.  The entity match resolves both to
one global id, which trips the known duplicate-key defect of the ``MERGE``:
at this drop size, in about 5 % of second drops and 10 % of later ones.
"""

from __future__ import annotations

import csv
import datetime
import io
import json
import os
import random
from dataclasses import dataclass, field

DATABASE = "syntheticgeneral"
TABLE = "policydata"
PRIMARY_TABLE = "insured_primary"
GLOBAL_ID = "gid"

FIRST_NAMES = (
    "james mary john patricia robert jennifer michael linda william elizabeth "
    "david barbara richard susan joseph jessica thomas sarah charles karen "
    "christopher lisa daniel nancy matthew betty anthony margaret mark sandra "
    "donald ashley steven kimberly paul emily andrew donna joshua michelle "
    "kenneth carol kevin amanda brian dorothy george melissa timothy deborah "
    "ronald stephanie edward rebecca jason sharon jeffrey laura ryan cynthia "
    "jacob kathleen gary amy nicholas angela eric shirley jonathan anna "
    "stephen brenda larry pamela justin emma scott nicole brandon helen "
    "benjamin samantha samuel katherine gregory christine alexander debra "
    "frank rachel patrick carolyn raymond janet jack catherine dennis maria"
).split()
LAST_NAMES = (
    "smith johnson williams brown jones garcia miller davis rodriguez martinez "
    "hernandez lopez gonzalez wilson anderson thomas taylor moore jackson "
    "martin lee perez thompson white harris sanchez clark ramirez lewis "
    "robinson walker young allen king wright scott torres nguyen hill flores "
    "green adams nelson baker hall rivera campbell mitchell carter roberts "
    "gomez phillips evans turner diaz parker cruz edwards collins reyes "
    "stewart morris morales murphy cook rogers gutierrez ortiz morgan cooper "
    "peterson bailey reed kelly howard ramos kim cox ward richardson watson "
    "brooks chavez wood james bennett gray mendoza ruiz hughes price alvarez "
    "castillo sanders patel myers long ross foster jimenez powell jenkins"
).split()
STATES = {
    "TX": "Texas", "CA": "California", "NY": "New York", "FL": "Florida",
    "IL": "Illinois", "PA": "Pennsylvania", "OH": "Ohio", "GA": "Georgia",
    "NC": "North Carolina", "MI": "Michigan", "NJ": "New Jersey",
    "VA": "Virginia", "WA": "Washington", "AZ": "Arizona", "MA": "Massachusetts",
    "TN": "Tennessee", "IN": "Indiana", "MO": "Missouri", "MD": "Maryland",
    "WI": "Wisconsin",
}
UNKNOWN_STATE = "ZZ"
LINES_OF_BUSINESS = ("AUTO", "HOME", "COMM", "WC", "GL")

HEADER = [
    "PolicyNumber", "CustomerNo", "InsuredName", "InsuredDOB", "TaxId",
    "EffectiveDate", "ExpirationDate", "StateCd", "LOBCode", "NewOrRenewal",
    "WrittenPremium", "AgentCd",
]

#: Shares of each drop that the config is meant to catch.
TEST_ROW_SHARE = 0.005
NEGATIVE_PREMIUM_SHARE = 0.01
UNKNOWN_STATE_SHARE = 0.02
#: Upsert workloads: share of a drop that is a returning insured, and the
#: share of those that come back misspelt under a new customer number.
RETURNING_SHARE = 0.30
MISSPELT_SHARE = 1 / 3

FIRST_DROP_DATE = datetime.date(2024, 1, 1)
DOB_START = datetime.date(1945, 1, 1)
DOB_DAYS = 60 * 365


def _zipf_weights(n: int, offset: int) -> list[float]:
    return [1.0 / (rank + offset) for rank in range(n)]


# Zipf-like with the head flattened to real-world shares: the commonest
# first name is ~4% of insureds, the commonest surname ~3%.
_FIRST_W = _zipf_weights(len(FIRST_NAMES), 10)
_LAST_W = _zipf_weights(len(LAST_NAMES), 20)


@dataclass
class Expected:
    """Values a correct pipeline run produces for one drop."""

    cleanse_rows: int
    premium_cents: int
    quarantine_rows: int
    consume_rows: int


@dataclass
class Drop:
    index: int
    partition: dict
    rows: int
    data: bytes
    expected: Expected

    def place(self, landing_root: str, database: str) -> str:
        """Write the CSV where the pipeline's path convention expects it:
        ``<landing>/<database>/<table>/<yyyy>/<mm>/<dd>/<file>``."""
        part = self.partition
        out_dir = os.path.join(landing_root, database, TABLE,
                               part["year"], part["month"], part["day"])
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{TABLE}-{self.index:04d}.csv")
        with open(path, "wb") as fh:
            fh.write(self.data)
        return path


@dataclass
class Insured:
    customer_no: int
    name: str
    dob: datetime.date


@dataclass
class DropGenerator:
    """Makes the drops of one workload; the same seed gives the same files."""

    seed: int
    rows_per_drop: int
    upsert: bool = False
    _roster: list[Insured] = field(default_factory=list)
    _next_customer: int = 100000

    def _new_insured(self, rng: random.Random) -> Insured:
        first = rng.choices(FIRST_NAMES, _FIRST_W)[0]
        last = rng.choices(LAST_NAMES, _LAST_W)[0]
        self._next_customer += 1
        dob = DOB_START + datetime.timedelta(days=rng.randrange(DOB_DAYS))
        return Insured(self._next_customer, f"{first} {last}", dob)

    def _misspell(self, rng: random.Random, name: str) -> str:
        # keep the first two letters (the blocking prefix) intact
        pos = rng.randrange(2, len(name))
        while name[pos] == " ":
            pos = rng.randrange(2, len(name))
        letter = rng.choice("abcdefghijklmnopqrstuvwxyz".replace(name[pos], ""))
        return name[:pos] + letter + name[pos + 1:]

    def _insureds(self, rng: random.Random, n: int) -> list[Insured]:
        returning: list[Insured] = []
        if self.upsert and self._roster:
            k = min(int(n * RETURNING_SHARE), len(self._roster))
            for old in rng.sample(self._roster, k):
                if rng.random() < MISSPELT_SHARE:
                    self._next_customer += 1
                    returning.append(Insured(
                        self._next_customer, self._misspell(rng, old.name), old.dob,
                    ))
                else:
                    returning.append(old)
        fresh = [self._new_insured(rng) for _ in range(n - len(returning))]
        if self.upsert:
            self._roster.extend(fresh)
        return returning + fresh

    def make_drop(self, index: int) -> Drop:
        """Drop ``index`` of the sequence; call in order (the roster grows)."""
        rng = random.Random(f"{self.seed}:{index}")
        people = self._insureds(rng, self.rows_per_drop)
        rng.shuffle(people)
        day = FIRST_DROP_DATE + datetime.timedelta(days=index)
        partition = {"year": f"{day.year:04d}", "month": f"{day.month:02d}",
                     "day": f"{day.day:02d}"}
        buf = io.StringIO()
        writer = csv.writer(buf, lineterminator="\n")
        writer.writerow(HEADER)
        cleanse_rows = quarantine_rows = premium_cents = 0
        states = sorted(STATES)
        for row_no, insured in enumerate(people):
            effective = day + datetime.timedelta(days=rng.randrange(0, 28))
            term_months = rng.choice((6, 12, 12, 12))
            exp_month = effective.month - 1 + term_months
            expiration = effective.replace(
                year=effective.year + exp_month // 12, month=exp_month % 12 + 1, day=1,
            ) + datetime.timedelta(days=effective.day - 1)
            cents = rng.randrange(20_000, 2_500_000)
            is_test = rng.random() < TEST_ROW_SHARE
            is_negative = not is_test and rng.random() < NEGATIVE_PREMIUM_SHARE
            if is_negative:
                cents = -rng.randrange(100, 50_000)
            state = UNKNOWN_STATE if rng.random() < UNKNOWN_STATE_SHARE else rng.choice(states)
            amount = f"{abs(cents) // 100:,}.{abs(cents) % 100:02d}"
            premium = ("-" if cents < 0 else "") + (
                f"${amount}" if rng.random() < 0.5 else amount
            )
            writer.writerow([
                index * 10_000_000 + row_no,
                insured.customer_no,
                insured.name,
                f"{insured.dob.month}/{insured.dob.day}/{insured.dob.year}",
                f"{rng.randrange(10**8, 10**9)}",
                f"{effective.month}/{effective.day}/{effective.year}",
                f"{expiration.month}/{expiration.day}/{expiration.year}",
                state,
                "TEST" if is_test else rng.choice(LINES_OF_BUSINESS),
                rng.choice(("New", "Renewal")),
                premium,
                f"AG{rng.randrange(1, 400):04d}",
            ])
            if is_test:
                continue
            if is_negative:
                quarantine_rows += 1
            else:
                cleanse_rows += 1
                premium_cents += cents
        return Drop(
            index=index, partition=partition, rows=self.rows_per_drop,
            data=buf.getvalue().encode("utf-8"),
            expected=Expected(cleanse_rows, premium_cents, quarantine_rows, cleanse_rows),
        )


MAPPING_CSV = """SourceName,DestName,Threshold,Scorer
PolicyNumber,policynumber,,
CustomerNo,customerno,,
InsuredName,insuredname,,
InsuredDOB,insureddob,,
TaxId,taxid,,
EffectiveDate,effectivedate,,
ExpirationDate,expirationdate,,
StateCd,statecd,,
LOBCode,lobcode,,
NewOrRenewal,neworrenewal,,
WrittenPremium,writtenpremium,,
AgentCode,agentcode,85,ratio
"""

TRANSFORM_SPEC = {
    "input_spec": {"csv": {"header": True}},
    "transform_spec": {
        "filterrows": [{"condition": "lobcode <> 'TEST'"}],
        "date": [
            {"field": "effectivedate", "format": "M/d/yyyy"},
            {"field": "expirationdate", "format": "M/d/yyyy"},
            {"field": "insureddob", "format": "M/d/yyyy"},
        ],
        "currency": [{"field": "writtenpremium", "format": "16,2"}],
        "titlecase": ["insuredname"],
        "lookup": [{"field": "statename", "source": "statecd", "lookup": "StateCd",
                    "nomatch": "N/A"}],
        "policymonths": [{"field": "policymonths", "policy_effective_date": "effectivedate",
                          "policy_expiration_date": "expirationdate", "normalized": True}],
        "hash": ["taxid"],
        "literal": {"sourcesystem": DATABASE},
    },
}

DQ_RULES = {
    "before_transform": {
        "warn_rules": [
            "Completeness 'policynumber' > 0.9",
            "ColumnValues 'statecd' matches '[A-Z]{2}'",
        ],
    },
    "after_transform": {
        "quarantine_rules": ["ColumnValues 'writtenpremium' >= 0"],
        "halt_rules": ["(ColumnExists 'policynumber') and (IsComplete 'policynumber')"],
    },
    "after_sparksql": {
        "warn_rules": ["RowCount > 0"],
    },
}

# The consume zone holds the drop's partition; for the upsert workloads it
# is the incoming side of the entity match.
CONSUME_SQL = (
    "SELECT policynumber, customerno, insuredname, insureddob, statecd, statename,"
    " lobcode, neworrenewal, writtenpremium, policymonths, effectivedate,"
    " expirationdate, agentcode, sourcesystem, year, month, day"
    " FROM {database}.{table}"
    " WHERE year = '{year}' AND month = '{month}' AND day = '{day}'"
)

VIEW_SQL = (
    "CREATE OR REPLACE VIEW policy_by_state AS"
    " SELECT statename, count(*) AS policies, sum(writtenpremium) AS premium"
    " FROM {database}_consume.{table} GROUP BY statename"
)

ENTITYMATCH_SPEC = {
    "primary_entity_table": PRIMARY_TABLE,
    "global_id_field": GLOBAL_ID,
    "sort_field": "effectivedate",
    "exact_match_fields": {
        "source_primary_key": "customerno",
        "source_system_key": "sourcesystem",
    },
    "levels": [{
        "blocks": ["insuredname[:2]", "insureddob"],
        "threshold": 0.9,
        "fields": [
            {"fieldname": "insuredname", "type": "string", "method": "jarowinkler",
             "threshold": 0.9, "weight": 1},
            {"fieldname": "insureddob", "type": "exact", "weight": 1},
        ],
    }],
}


def write_config(config_dir: str, lookup_dir: str, database: str) -> None:
    """Write the dataset's mapping, transform spec, DQ rules, SQL and lookup."""
    os.makedirs(config_dir, exist_ok=True)
    os.makedirs(lookup_dir, exist_ok=True)
    base = f"{database}-{TABLE}"
    files = {
        f"{base}.csv": MAPPING_CSV,
        f"{base}.json": json.dumps(TRANSFORM_SPEC, indent=1),
        f"dq-{base}.json": json.dumps(DQ_RULES, indent=1),
        f"spark-{base}.sql": CONSUME_SQL,
        f"view-{base}.sql": VIEW_SQL,
    }
    for name, text in files.items():
        with open(os.path.join(config_dir, name), "w", encoding="utf-8") as fh:
            fh.write(text)
    with open(os.path.join(lookup_dir, "StateCd.json"), "w", encoding="utf-8") as fh:
        json.dump(STATES, fh)
