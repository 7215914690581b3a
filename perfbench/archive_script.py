"""Seeded script of archive commands plus a plain-Python model of what the
store and the SQLite mirror must hold after it.

The script is an endless sequence of cycles of the operations in ``CYCLE``
(one of each kind), in that order; the seed draws every
input. A run that stops after any whole number of operations has executed
a prefix of the same sequence for the same seed. Inputs are written to files
under ``workdir`` as the operation is generated; the model is updated only
by :meth:`ArchiveScript.apply`, which the runner calls after the operation
succeeded.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

CYCLE = ("video", "history", "stream", "query", "playlist", "lost", "delete")

#: Sizes of one operation's input. ``SMOKE`` is the shortened script the
#: benchmark's own tests run.
FULL = {"videos": 300, "comments": 20, "tags": 5, "history": 50_000, "stream": 5_000, "playlist": 50}
SMOKE = {"videos": 20, "comments": 3, "tags": 2, "history": 500, "stream": 100, "playlist": 5}

N_CHANNELS, N_AUTHORS, N_TAGS = 100, 3_000, 400

QUERY_SQL = (
    "SELECT c.name AS channel, count(DISTINCT v.video_id) AS videos, "
    "count(m.comment_id) AS comments "
    "FROM videos v JOIN channels c ON v.channel = c.channel_id "
    "LEFT JOIN comments m ON m.video = v.video_id "
    "GROUP BY c.name ORDER BY comments DESC, channel ASC LIMIT 5"
)


@dataclass
class Op:
    kind: str
    argv: list[str] = field(default_factory=list)  # cli argv; empty for "stream"
    path: str | None = None  # input file, when the operation has one
    effect: dict = field(default_factory=dict)  # what apply() folds into the model


@dataclass
class Model:
    """Expected contents, kept as sets so re-sends and replays collapse."""

    present: set = field(default_factory=set)  # valid archived video ids
    lost: set = field(default_factory=set)  # quarantined ids (lost stubs)
    video_channel: dict = field(default_factory=dict)  # valid id -> channel index
    users: set = field(default_factory=set)
    channels: set = field(default_factory=set)
    tags: set = field(default_factory=set)
    history: set = field(default_factory=set)  # (video, watched) in the store
    sqlite_history: set = field(default_factory=set)  # (video, watched) via the stream
    playlists: dict = field(default_factory=dict)  # playlist id -> video count

    def counts(self, sizes: dict) -> dict[str, int]:
        return {
            "videos": len(self.present) + len(self.lost),
            "comments": sizes["comments"] * len(self.present),
            "video_tags": sizes["tags"] * len(self.present),
            "tags": len(self.tags),
            "users": len(self.users),
            "channels": len(self.channels),
            "history": len(self.history),
            "playlists": len(self.playlists),
            "playlist_videos": sum(self.playlists.values()),
        }

    def query_answer(self, sizes: dict) -> list[tuple[str, int, int]]:
        per: dict[str, int] = {}
        for vid in self.present:
            name = channel_name(self.video_channel[vid])
            per[name] = per.get(name, 0) + 1
        rows = [(name, n, n * sizes["comments"]) for name, n in per.items()]
        rows.sort(key=lambda r: (-r[2], r[0]))
        return rows[:5]


def channel_name(k: int) -> str:
    return f"Channel {k:03d}"


def _iso(sec: int) -> str:
    import time

    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(sec))


class ArchiveScript:
    def __init__(self, seed: int, workdir: str, sizes: dict = FULL):
        self.rng = random.Random(seed)
        self.workdir = workdir
        self.inbox = os.path.join(workdir, "inbox")
        os.makedirs(self.inbox, exist_ok=True)
        self.sizes = sizes
        self.model = Model()
        self._n = 0  # operations generated
        self._next_video = 0
        self._sent_valid: list[str] = []  # every valid id sent, in order
        self._history_sent: list[tuple[str, str]] = []
        self._history_clock = 1_577_836_800  # 2020-01-01, archive-history times
        self._stream_clock = 1_735_689_600  # 2025-01-01, stream event times
        self._playlist_ids: list[str] = []

    def store_dir(self) -> str:
        return os.path.join(self.workdir, "store")

    def __iter__(self):
        return self

    def __next__(self) -> Op:
        kind = CYCLE[self._n % len(CYCLE)]
        self._n += 1
        op = getattr(self, f"_gen_{kind}")()
        if op.argv:
            op.argv += ["--store", self.store_dir()]
        return op

    def _file(self, name: str) -> str:
        return os.path.join(self.workdir, f"{self._n:05d}-{name}")

    # -- generators -------------------------------------------------------

    def _gen_video(self) -> Op:
        s, rng = self.sizes, self.rng
        n_resend = s["videos"] // 10 if self._sent_valid else 0
        n_bad = max(1, s["videos"] // 50)
        n_new = s["videos"] - n_resend - n_bad
        new_ids = [f"v{self._next_video + i:010d}" for i in range(n_new)]
        self._next_video += n_new
        resend = rng.sample(self._sent_valid, min(n_resend, len(self._sent_valid)))
        bad = [f"bad{self._n:04d}x{i}" for i in range(n_bad)]
        dicts, videos = [], {}
        for vid in new_ids + resend:
            ch = int(vid[1:]) % N_CHANNELS  # stable per id, so re-sends agree
            vrng = random.Random(vid)
            authors = [f"A{vrng.randrange(N_AUTHORS):06d}" for _ in range(s["comments"])]
            tags = [f"tag{t:04d}" for t in vrng.sample(range(N_TAGS), s["tags"])]
            videos[vid] = (ch, authors, tags)
            dicts.append(_infodict(vid, ch, authors, tags, vrng))
        dicts += [{"id": b, "fulltitle": "unfetchable"} for b in bad]
        rng.shuffle(dicts)
        self._sent_valid += new_ids
        path = self._file("videos.json")
        with open(path, "w") as f:
            json.dump(dicts, f)
        return Op("video", ["archive-video", path], path, {"videos": videos, "bad": bad})

    def _gen_history(self) -> Op:
        s, rng = self.sizes, self.rng
        n = s["history"]
        n_overlap = n // 5 if self._history_sent else 0
        rows = rng.sample(self._history_sent, min(n_overlap, len(self._history_sent)))
        pool = self._sent_valid or ["v0000000000"]
        fresh = []
        for _ in range(n - len(rows)):
            self._history_clock += rng.randrange(1, 120)
            fresh.append((rng.choice(pool), _iso(self._history_clock)))
        rows += fresh
        rows += rng.sample(rows, n // 100)  # in-file exact duplicates
        rng.shuffle(rows)
        entries = [{"titleUrl": f"https://www.youtube.com/watch?v={v}", "time": t} for v, t in rows]
        entries += [{"title": "removed video", "time": _iso(self._history_clock)}] * (n // 100)
        self._history_sent += fresh
        path = self._file("watch-history.json")
        with open(path, "w") as f:
            json.dump(entries, f)
        return Op("history", ["archive-history", path], path, {"pairs": set(rows)})

    def _gen_stream(self) -> Op:
        s, rng = self.sizes, self.rng
        pool = self._sent_valid or ["v0000000000"]
        lines = []
        for _ in range(s["stream"]):
            self._stream_clock += rng.randrange(1, 30)
            row = {"video": rng.choice(pool), "watched": _iso(self._stream_clock)}
            lines.append(row)
            if rng.random() < 0.05:  # exact duplicate, dropped by the dedup
                lines.append(dict(row))
        path = os.path.join(self.inbox, f"{self._n:05d}.json")
        tmp = self._file("stream.tmp")
        with open(tmp, "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in lines))
        pairs = {(r["video"], r["watched"]) for r in lines}
        return Op("stream", [], tmp, {"pairs": pairs, "dest": path})

    def _gen_query(self) -> Op:
        return Op("query", ["query", QUERY_SQL])

    def _gen_lost(self) -> Op:
        return Op("lost", ["lost"])

    def _gen_playlist(self) -> Op:
        s, rng = self.sizes, self.rng
        if self._playlist_ids and rng.random() < 0.3:
            title = rng.choice(self._playlist_ids)  # overwrite an existing playlist
        else:
            title = f"mix {len(self._playlist_ids):04d}"
            self._playlist_ids.append(title)
        pool = self._sent_valid or ["v0000000000"]
        vids = rng.sample(pool, min(s["playlist"], len(pool)))
        path = self._file(f"{title} videos.csv")
        with open(path, "w") as f:
            f.write("Video ID,Time Added\n")
            for i, v in enumerate(vids):
                f.write(f"{v},{_iso(1_600_000_000 + 3600 * i).replace('T', ' ')[:-1]}\n")
        pid = "PLLOCAL_" + title.replace(" ", "_")
        return Op("playlist", ["archive-playlist", path, "--yes"], path, {"pid": pid, "n": len(vids)})

    def _gen_delete(self) -> Op:
        present = sorted(self.model.present)
        if not present:
            return Op("delete", ["delete-video", "v9999999999", "--yes"], effect={"id": None})
        vid = self.rng.choice(present)
        return Op("delete", ["delete-video", vid, "--yes"], effect={"id": vid})

    # -- model ------------------------------------------------------------

    def apply(self, op: Op) -> None:
        m, e = self.model, op.effect
        if op.kind == "video":
            for vid, (ch, authors, tags) in e["videos"].items():
                if vid in m.present:
                    continue  # skip-guard: already archived ids are dropped
                m.present.add(vid)
                m.video_channel[vid] = ch
                m.channels.add(ch)
                m.users.add(f"U{ch:06d}")
                m.users.update(authors)
                m.tags.update(tags)
            m.lost.update(e["bad"])
        elif op.kind == "history":
            m.history |= e["pairs"]
        elif op.kind == "stream":
            m.history |= e["pairs"]
            m.sqlite_history |= e["pairs"]
        elif op.kind == "playlist":
            m.playlists[e["pid"]] = e["n"]
        elif op.kind == "delete" and e["id"] is not None:
            m.present.discard(e["id"])


def _infodict(vid: str, ch: int, authors: list[str], tags: list[str], vrng: random.Random) -> dict:
    comments = [
        {
            "id": f"{vid}c{j:03d}",
            "author_id": a,
            "author": f"author {a}",
            "text": f"comment {j} on {vid}",
            "like_count": vrng.randrange(100),
            "is_favorited": False,
            "author_is_uploader": False,
            "parent": "root" if j % 4 == 0 else f"{vid}c{j - j % 4:03d}",
            "timestamp": 1_600_000_000 + vrng.randrange(10**7),
        }
        for j, a in enumerate(authors)
    ]
    return {
        "id": vid,
        "fulltitle": f"title of {vid}",
        "description": "a description " * vrng.randrange(1, 8),
        "channel_id": f"UC{ch:08d}",
        "channel": channel_name(ch),
        "uploader": f"uploader {ch}",
        "uploader_id": f"U{ch:06d}",
        "channel_url": f"https://www.youtube.com/channel/UC{ch:08d}",
        "channel_follower_count": 1000 * ch,
        "thumbnail": f"https://i.ytimg.com/vi/{vid}/hq.jpg?sqp=1",
        "duration": vrng.randrange(30, 3600),
        "view_count": vrng.randrange(10**6),
        "like_count": vrng.randrange(10**4),
        "age_limit": 0,
        "live_status": "not_live",
        "upload_date": f"20{vrng.randrange(10, 24)}0{vrng.randrange(1, 10)}1{vrng.randrange(10)}",
        "availability": "public",
        "width": 1920,
        "height": 1080,
        "fps": 30.0,
        "audio_channels": 2,
        "categories": ["Education"],
        "tags": tags,
        "filesize_approx": vrng.randrange(10**6, 10**9),
        "comments": comments,
    }
