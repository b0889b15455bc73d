"""Seeded synthetic TopCV crawl for the etl_daily workload, with ground truth.

Pages use the two markup generations the parser supports (the primary
``div.job-item-2`` layout and the ``article.job-listing`` fallback).
Across the days of one crawl the data exercises every part of the
daily cycle:

- postings arrive, leave the listing (churn), and are carried forward
  in the snapshot until their due date passes (expiry);
- a few postings appear twice in the same crawl, on different pages;
- some titles change (a new ``dim_job`` SCD2 version) and some
  companies change logo or verified badge (a new ``dim_company``
  version);
- multi-city locations feed the location bridge;
- every salary format of ``functions.salary`` appears;
- a few rows are invalid (no company, short title, inverted salary,
  empty location, far deadline) while the gates still pass.

``ground_truth`` replays the warehouse rules in plain Python over the
generated postings, independently of Spark, and returns the counts the
benchmark checks after every day.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from html import escape

SALARIES = [
    "Thỏa thuận",
    "Cạnh tranh",
    "0.0 - 0.0 triệu",
    "1,000 - 2,000 USD",
    "25 - 40 triệu",
    "2,5 - 4,5 triệu",
    "Tới 2,000 USD",
    "Tới 30 triệu",
    "Từ 15 triệu",
    "1,500 USD",
    "20 triệu",
    "Lương hấp dẫn",
    None,  # no salary label at all
]
INVALID_SALARY = "40 - 25 triệu"  # max < min: a business-rule violation

HANOI, HCM = "hanoi", "hcm"
# location text -> cities after parsing, tagged for the city views
LOCATIONS = [
    ("Hà Nội", [HANOI]),
    ("Hồ Chí Minh", [HCM]),
    ("Đà Nẵng", ["other"]),
    ("Hà Nội & Hồ Chí Minh", [HANOI, HCM]),
    ("Hà Nội & Đà Nẵng & Hồ Chí Minh", [HANOI, "other", HCM]),
    ("Hà Nội & Nơi khác", [HANOI]),
    ("Cần Thơ & Hải Phòng", ["other", "other2"]),
    ("Nhật Bản", ["foreign"]),
]
EMPTY_LOCATION = ("", [])

ROLES = ["Developer", "Engineer", "Analyst", "Tester", "Designer", "Manager"]
FIELDS = ["Python", "Java", "Data", "Cloud", "Mobile", "Frontend", "Backend", "QA"]
LEVELS = ["Junior", "Senior", "Lead", "Principal"]
SKILLS = ["Python", "Java", "SQL", "Spark", "Docker", "AWS", "React", "Go"]
UPDATES = ["Cập nhật 2 giờ trước", "Cập nhật 1 ngày trước", "Cập nhật 30 phút trước",
           "Cập nhật 3 ngày trước", "Cập nhật 1 tuần trước"]

MONTH_START = date(2026, 3, 1)
CRAWL_HOUR = 6


@dataclass
class Company:
    name: str | None
    slug: str
    verified: bool
    change_day: int | None  # day from which logo and badge flip

    def attrs(self, day: int) -> tuple:
        """(company_url, logo_url, verified) as crawled on ``day``."""
        if self.name is None:
            return (None, None, False)
        flipped = self.change_day is not None and day >= self.change_day
        logo = f"https://cdn.topcv.vn/{self.slug}{'-v2' if flipped else ''}.png"
        verified = self.verified != flipped
        return (f"https://www.topcv.vn/cong-ty/{self.slug}", logo, verified)


@dataclass
class Posting:
    job_id: str
    title: str
    title_change_day: int | None  # from this day on the title reads "<title> II"
    company: Company
    location: tuple
    salary: str | None
    skills: list
    first_day: int
    last_day: int
    due_day: int | None  # None: no deadline on the page, never expires
    update: str

    def title_on(self, day: int) -> str:
        if self.title_change_day is not None and day >= self.title_change_day:
            return f"{self.title} II"
        return self.title

    def url(self) -> str:
        return f"/viec-lam/{self.title.lower().replace(' ', '-')}-{self.job_id}.html"


@dataclass
class Crawl:
    """Every posting of the crawl plus the page list per day."""

    days: int
    postings: list
    pages: dict = field(default_factory=dict)  # day -> [(page_url, html)]
    listed: dict = field(default_factory=dict)  # day -> [Posting] (unique)
    raw_rows: dict = field(default_factory=dict)  # day -> parsed rows incl. repeats

    @staticmethod
    def as_of(day: int) -> date:
        return MONTH_START + timedelta(days=day)

    @staticmethod
    def crawled_at(day: int) -> datetime:
        d = Crawl.as_of(day)
        return datetime(d.year, d.month, d.day, CRAWL_HOUR)


def _render_primary(p: Posting, day: int) -> str:
    _, logo, verified = p.company.attrs(day)
    parts = [f'<div class="job-item-2" data-job-id="{p.job_id}">']
    if logo:
        parts.append(f'<a href="/cong-ty/{p.company.slug}"><img src="{logo}"/></a>')
    title = escape(p.title_on(day))
    parts.append(
        f'<h3 class="title"><a href="{p.url()}">'
        f'<span data-original-title="{title}">{title[:12]}</span></a></h3>'
    )
    if p.company.name is not None:
        parts.append(
            f'<a class="company" href="/cong-ty/{p.company.slug}">'
            f"{escape(p.company.name)}</a>"
        )
    parts.append(f'<label class="address">{escape(p.location[0])}</label>')
    if p.salary is not None:
        parts.append(f'<label class="title-salary">{escape(p.salary)}</label>')
    if p.skills:
        parts.append('<div class="skills">')
        parts.append(f'<label class="item">{p.skills[0]}</label>')
        if len(p.skills) > 1:
            rest = ", ".join(p.skills[1:])
            parts.append(
                f'<label class="item" data-original-title="{rest}">'
                f"{len(p.skills) - 1}+</label>"
            )
        parts.append("</div>")
    if p.due_day is not None:
        parts.append(f'<label class="time"><strong>{p.due_day - day}</strong></label>')
    if verified:
        parts.append('<span class="vip-badge"></span>')
    parts.append(f'<span class="time">{p.update}</span>')
    parts.append("</div>")
    return "\n".join(parts)


def _render_fallback(p: Posting, day: int) -> str:
    url_c, logo, verified = p.company.attrs(day)
    parts = ['<article class="job-listing">']
    if logo:
        parts.append(f'<a class="logo" href="/cong-ty/{p.company.slug}"><img src="{logo}"/></a>')
    parts.append(
        f'<h2 class="job-title"><a href="https://www.topcv.vn{p.url()}">'
        f"{escape(p.title_on(day))}</a></h2>"
    )
    if p.company.name is not None:
        parts.append(
            f'<div class="company-name"><a href="{url_c}">'
            f"{escape(p.company.name)}</a></div>"
        )
    parts.append(f'<div class="location">{escape(p.location[0])}</div>')
    if p.salary is not None:
        parts.append(f'<div class="salary">{escape(p.salary)}</div>')
    for s in p.skills:
        parts.append(f'<span class="skill-tag">{s}</span>')
    if p.due_day is not None:
        parts.append(f'<div class="deadline"><strong>{p.due_day - day}</strong></div>')
    if verified:
        parts.append('<span class="verified-badge"></span>')
    parts.append(f'<span class="time">{p.update}</span>')
    parts.append("</article>")
    return "\n".join(parts)


def generate(seed: int, per_day: int, days: int, page_size: int = 25) -> Crawl:
    """Postings and pages for ``days`` crawl days."""
    rng = random.Random(seed)
    n_comp = max(8, per_day // 6)
    companies = [
        Company(
            f"Công ty {rng.choice(['TNHH', 'CP', 'JSC'])} Alpha {i}",
            f"co-{i}",
            rng.random() < 0.5,
            rng.randint(1, days - 1) if days > 1 and rng.random() < 0.15 else None,
        )
        for i in range(n_comp)
    ]
    nameless = Company(None, "unknown", False, None)
    postings: list[Posting] = []
    next_id = 100000 + rng.randint(0, 899) * 1000

    def new_posting(first_day: int) -> Posting:
        nonlocal next_id
        next_id += 1
        level, fld, role = rng.choice(LEVELS), rng.choice(FIELDS), rng.choice(ROLES)
        title = f"{level} {fld} {role}"
        u = rng.random()
        company = nameless if u < 0.015 else rng.choice(companies)
        if 0.015 <= u < 0.03:
            title = rng.choice(["Dev", "QA", "BA"])  # too short
        loc = EMPTY_LOCATION if rng.random() < 0.02 else rng.choice(LOCATIONS)
        salary = INVALID_SALARY if rng.random() < 0.02 else SALARIES[next_id % len(SALARIES)]
        life = rng.randint(1, days + 2)
        last_day = first_day + life - 1
        v = rng.random()
        if v < 0.03:
            due = None
        elif v < 0.05:
            due = first_day + 200  # deadline too far
        else:
            # due on the last listed day: gone from the snapshot the day after
            due = last_day + rng.choice([0, 1, 1, 2, 5, 20])
        change = None
        if last_day > first_day and rng.random() < 0.06:
            change = rng.randint(first_day + 1, last_day)
        return Posting(
            job_id=str(next_id),
            title=title,
            title_change_day=change,
            company=company,
            location=loc,
            salary=salary,
            skills=rng.sample(SKILLS, rng.randint(0, 3)),
            first_day=first_day,
            last_day=last_day,
            due_day=due,
            update=rng.choice(UPDATES),
        )

    crawl = Crawl(days=days, postings=postings)
    active: list[Posting] = []
    for day in range(days):
        active = [p for p in active if p.last_day >= day]
        while len(active) < per_day:
            p = new_posting(day)
            postings.append(p)
            active.append(p)
        listed = sorted(active, key=lambda p: p.job_id)
        rows = list(listed) + rng.sample(listed, max(1, len(listed) // 50))
        rng.shuffle(rows)
        pages = []
        for i in range(0, len(rows), page_size):
            chunk = rows[i:i + page_size]
            # the parser keeps the first of two items with one job id on a
            # page, so a repeat only reaches staging from another page
            seen, items = set(), []
            for p in chunk:
                if p.job_id not in seen:
                    seen.add(p.job_id)
                    items.append(p)
            render = _render_fallback if rng.random() < 0.3 else _render_primary
            body = "\n".join(render(p, day) for p in items)
            pages.append((f"https://www.topcv.vn/viec-lam?page={i // page_size + 1}",
                          f"<html><body>\n{body}\n</body></html>"))
        crawl.pages[day] = pages
        crawl.listed[day] = listed
        crawl.raw_rows[day] = sum(
            len({p.job_id for p in rows[i:i + page_size]})
            for i in range(0, len(rows), page_size)
        )
    return crawl


@dataclass(frozen=True)
class _Fact:
    job: tuple  # (job_id, version)
    company: tuple  # (company key, version)
    due: int | None
    cities: tuple


def ground_truth(crawl: Crawl) -> dict[int, dict]:
    """Per-day expected warehouse and view counts, replayed in Python.

    The rules replayed: one SCD2 version per business key and day when
    a compared attribute changes; fresh facts for every listed posting;
    yesterday's facts carried forward while their due date has not
    passed and no fresh fact has the same job version; one bridge row
    per parsed city (the Unknown sentinel when there is none), copied
    with a carried fact; the city and today views join only current
    job and company versions.
    """
    job_ver: dict[str, tuple[int, tuple]] = {}
    comp_ver: dict[str, tuple[int, tuple]] = {}
    dim_job_rows = dim_company_rows = bridge_rows = 0
    prev: list[_Fact] = []
    out = {}
    for day in range(crawl.days):
        listed = crawl.listed[day]
        for p in listed:
            attrs = (p.title_on(day), p.url(), tuple(p.skills))
            cur = job_ver.get(p.job_id)
            if cur is None or cur[1] != attrs:
                job_ver[p.job_id] = ((cur[0] + 1) if cur else 0, attrs)
                dim_job_rows += 1
            key = p.company.slug
            attrs = p.company.attrs(day)
            cur = comp_ver.get(key)
            if cur is None or cur[1] != attrs:
                comp_ver[key] = ((cur[0] + 1) if cur else 0, attrs)
                dim_company_rows += 1
        fresh = [
            _Fact(
                (p.job_id, job_ver[p.job_id][0]),
                (p.company.slug, comp_ver[p.company.slug][0]),
                p.due_day,
                tuple(p.location[1]),
            )
            for p in listed
        ]
        fresh_jobs = {f.job for f in fresh}
        carried = [
            f for f in prev
            if (f.due is None or f.due >= day) and f.job not in fresh_jobs
        ]
        facts = fresh + carried
        bridge_rows += sum(max(1, len(f.cities)) for f in facts)
        current = [
            f for f in facts
            if job_ver[f.job[0]][0] == f.job[1]
            and comp_ver[f.company[0]][0] == f.company[1]
        ]
        out[day] = {
            "staging_rows": len(listed),
            "fact_rows_today": len(facts),
            "dim_job_rows": dim_job_rows,
            "dim_company_rows": dim_company_rows,
            "bridge_rows": bridge_rows,
            "vw_jobs_today": len(current),
            "vw_jobs_hanoi": sum(f.cities.count(HANOI) for f in current),
            "vw_jobs_hcm": sum(f.cities.count(HCM) for f in current),
        }
        prev = facts
    return out
