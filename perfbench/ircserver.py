"""Seeded fake Twitch IRC server, run as its own process.

    python3 ircserver.py SPEC.json

SPEC names the port file to write, the stats file to append to, and a
map from stream name to `{"file": line_file, "rate": lines_per_s,
"limit": n}`.
A client joins `#<stream>-<tag>`; once two connections have joined the
same channel (PASS/NICK/JOIN, like Twitch), a session starts and both
connections receive the same lines:

* `rate > 0`: an open loop. Line i is due at t0 + i / rate and is queued
  for sending when due, however far behind the consumer is, so a slow
  consumer meets a growing backlog rather than a slower generator. How
  late the loop queued each line is recorded.
* `rate == 0`: a backlog. Every line is due at t0 and queued at once.

Every two seconds each connection gets a PING and is expected to answer
PONG. One thread serves every connection with non-blocking sockets. When
a session's connections have closed (or on SIGTERM), one JSON line per
session is appended to the stats file.
"""
import json
import os
import selectors
import signal
import socket
import sys
import time

PING_EVERY_S = 2.0


class Conn:
    def __init__(self, sock):
        self.sock = sock
        self.inbuf = b""
        self.out = []          # queued byte chunks
        self.off = 0           # bytes of out[0] already sent
        self.channel = None
        self.closed = False


class Session:
    def __init__(self, channel, stream, lines, rate):
        self.channel, self.stream, self.lines, self.rate = channel, stream, lines, rate
        self.conns = []
        self.t0 = None
        self.next = 0
        self.late = []         # seconds late, one entry per queued line
        self.next_ping = None
        self.pings = 0
        self.pongs = 0
        self.done = False


def percentile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


class Server:
    def __init__(self, spec):
        self.files = {}
        self.streams = spec["streams"]
        self.stats_path = spec["stats"]
        self.sel = selectors.DefaultSelector()
        self.listener = socket.socket()
        self.listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.listener.bind(("127.0.0.1", 0))
        self.listener.listen(8)
        self.listener.setblocking(False)
        self.sel.register(self.listener, selectors.EVENT_READ)
        self.sessions = {}
        self.running = True
        with open(spec["port_file"] + ".tmp", "w") as f:
            f.write(str(self.listener.getsockname()[1]))
        os.replace(spec["port_file"] + ".tmp", spec["port_file"])

    def queue(self, conn, data):
        if not conn.closed:
            conn.out.append(data)
            self.sel.modify(conn.sock, selectors.EVENT_READ | selectors.EVENT_WRITE, conn)

    def on_join(self, conn, channel):
        conn.channel = channel
        s = self.sessions.get(channel)
        if s is None:
            stream = channel.lstrip("#").split("-")[0]
            cfg = self.streams[stream]
            if cfg["file"] not in self.files:
                with open(cfg["file"], "rb") as f:
                    self.files[cfg["file"]] = [ln + b"\r\n" for ln in f.read().split(b"\n") if ln]
            lines = self.files[cfg["file"]][:cfg["limit"]]
            s = self.sessions[channel] = Session(channel, stream, lines, cfg["rate"])
        s.conns.append(conn)
        if len(s.conns) == 2:
            s.t0 = time.time()
            s.next_ping = s.t0 + PING_EVERY_S
            if s.rate == 0:
                blob = b"".join(s.lines)
                for c in s.conns:
                    self.queue(c, blob)
                s.next = len(s.lines)
                s.late = [0.0] * len(s.lines)

    def on_line(self, conn, line):
        word = line.split(b" ", 1)[0].upper()
        if word == b"JOIN":
            self.on_join(conn, line.split(b" ", 1)[1].strip().decode())
        elif word == b"PONG" and conn.channel in self.sessions:
            self.sessions[conn.channel].pongs += 1

    def read(self, conn):
        try:
            data = conn.sock.recv(65536)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if not data:
            self.close(conn)
            return
        conn.inbuf += data
        *complete, conn.inbuf = conn.inbuf.split(b"\n")
        for ln in complete:
            self.on_line(conn, ln.strip(b"\r"))

    def write(self, conn):
        while conn.out:
            chunk = memoryview(conn.out[0])[conn.off:]
            try:
                n = conn.sock.send(chunk)
            except (BlockingIOError, InterruptedError):
                return
            except OSError:
                self.close(conn)
                return
            conn.off += n
            if conn.off < len(conn.out[0]):
                return
            conn.out.pop(0)
            conn.off = 0
        self.sel.modify(conn.sock, selectors.EVENT_READ, conn)

    def close(self, conn):
        if conn.closed:
            return
        conn.closed = True
        self.sel.unregister(conn.sock)
        conn.sock.close()
        s = self.sessions.get(conn.channel)
        if s is not None and s.t0 is not None and all(c.closed for c in s.conns):
            self.finish(s)

    def finish(self, s):
        if s.done:
            return
        s.done = True
        late_ms = [x * 1000.0 for x in s.late]
        rec = {"channel": s.channel, "stream": s.stream, "t0_ms": s.t0 * 1000.0,
               "rate": s.rate, "lines_due": len(s.lines), "lines_queued": s.next,
               "late_ms_p50": percentile(late_ms, 0.50),
               "late_ms_p99": percentile(late_ms, 0.99),
               "late_ms_max": max(late_ms) if late_ms else 0.0,
               "pings": s.pings, "pongs": s.pongs}
        with open(self.stats_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
        s.lines = s.late = None

    def tick(self, now):
        """Queue due lines and pings; return seconds until the next event."""
        wait = 0.05
        for s in self.sessions.values():
            if s.t0 is None or s.done:
                continue
            if s.rate > 0 and s.next < len(s.lines):
                due_end = min(len(s.lines), int((now - s.t0) * s.rate) + 1)
                if due_end > s.next:
                    blob = b"".join(s.lines[s.next:due_end])
                    for c in s.conns:
                        self.queue(c, blob)
                    s.late.extend(now - (s.t0 + i / s.rate) for i in range(s.next, due_end))
                    s.next = due_end
                if s.next < len(s.lines):
                    # wake at most every 5 ms: lines due in between are
                    # queued together, each recorded as late as it was
                    wait = min(wait, max(0.005, s.t0 + s.next / s.rate - now))
            if now >= s.next_ping:
                for c in s.conns:
                    self.queue(c, b"PING :tmi.twitch.tv\r\n")
                s.pings += 1
                s.next_ping += PING_EVERY_S
            wait = min(wait, s.next_ping - now)
        return max(0.0, wait)

    def serve(self):
        while self.running:
            for key, mask in self.sel.select(self.tick(time.time())):
                if key.fileobj is self.listener:
                    try:
                        sock, _ = self.listener.accept()
                    except (BlockingIOError, InterruptedError):
                        continue
                    sock.setblocking(False)
                    self.sel.register(sock, selectors.EVENT_READ, Conn(sock))
                    continue
                conn = key.data
                if mask & selectors.EVENT_READ:
                    self.read(conn)
                if mask & selectors.EVENT_WRITE and not conn.closed:
                    self.write(conn)
        for s in self.sessions.values():
            if s.t0 is not None:
                self.finish(s)


def main():
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    server = Server(spec)

    def stop(*_):
        server.running = False
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    server.serve()


if __name__ == "__main__":
    main()
