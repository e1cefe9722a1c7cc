#!/usr/bin/env bash
# Live-wire soak for the gRPC sink transport — the sink-side analog of
# tools/live_pg.sh. Drives the gRPC client (H2cGrpcClient, built on Netty's
# HTTP/2 codec, under MilvusGrpcTransport) against a REAL HTTP/2 server
# (NettyGrpcServer on netty-codec-http2, the codec grpc-java builds on),
# which ships with the Spark distribution — so unlike the PG soak this
# needs no external server and never skips.
#
# Legs (NettyGrpcSoakSpec):
#   1. bootstrap/upsert/delete through the server's SETTINGS handshake and
#      production HPACK encoder (huffman + static/dynamic indexing);
#   2. large upsert through a 1 KiB window — the server's flow controller
#      enforces it; any frame/window violation is a connection error and
#      fails the leg;
#   3. >16 KiB trailer block split across HEADERS+CONTINUATION,
#      reassembled byte-for-byte;
#   4. early trailers-only rejection on a starved window — the blocked
#      send aborts and surfaces grpc-status instead of hanging;
#   5. 200-RPC sequential soak on one connection (HPACK dynamic table +
#      stream-id space reuse);
#   6. RST_STREAM, GOAWAY and a trailer block over the client's header-list
#      limit each fail the call within seconds, naming the method;
#   7. close() stops the client's event-loop thread.
set -euo pipefail
cd "$(dirname "$0")/.."
exec sbt -batch 'testOnly graft.NettyGrpcSoakSpec'
