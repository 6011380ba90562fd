/* CityHash128 v1.0.2 — the variant ClickHouse pins for its compressed-frame
 * checksums. A plain C port of the pure-Python implementation in
 * compress.py (same branches, same constants); compress.py compiles it
 * on first use and calls it through ctypes. No Python API: one exported
 * function, cityhash128(data, len, out) -> out[0] = lo, out[1] = hi. */

#include <stddef.h>
#include <stdint.h>
#include <string.h>

static const uint64_t k0 = 0xc3a5c85c97cb3127ULL;
static const uint64_t k1 = 0xb492b66fbe98f273ULL;
static const uint64_t k2 = 0x9ae16a3b2f90404fULL;
static const uint64_t k3 = 0xc949d7c7509e6557ULL;
static const uint64_t kmul = 0x9ddfea08eb382d69ULL;

/* little-endian loads on any host (memcpy compiles to one load) */
static uint64_t f64(const unsigned char *p) {
    uint64_t r;
    memcpy(&r, p, 8);
#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
    r = __builtin_bswap64(r);
#endif
    return r;
}

static uint64_t f32(const unsigned char *p) {
    uint32_t r;
    memcpy(&r, p, 4);
#if defined(__BYTE_ORDER__) && __BYTE_ORDER__ == __ORDER_BIG_ENDIAN__
    r = __builtin_bswap32(r);
#endif
    return r;
}

static uint64_t rot(uint64_t v, int shift) {
    return shift == 0 ? v : (v >> shift) | (v << (64 - shift));
}

static uint64_t shift_mix(uint64_t v) { return v ^ (v >> 47); }

static uint64_t hash_len_16(uint64_t u, uint64_t v) {
    uint64_t a = (u ^ v) * kmul;
    a ^= a >> 47;
    uint64_t b = (v ^ a) * kmul;
    b ^= b >> 47;
    return b * kmul;
}

static uint64_t hash_len_0_to_16(const unsigned char *s, size_t n) {
    if (n > 8) {
        uint64_t a = f64(s), b = f64(s + n - 8);
        return hash_len_16(a, rot(b + n, (int)n)) ^ b;
    }
    if (n >= 4) {
        uint64_t a = f32(s);
        return hash_len_16(n + (a << 3), f32(s + n - 4));
    }
    if (n > 0) {
        uint32_t y = (uint32_t)s[0] + ((uint32_t)s[n >> 1] << 8);
        uint32_t z = (uint32_t)n + ((uint32_t)s[n - 1] << 2);
        return shift_mix(y * k2 ^ z * k3) * k2;
    }
    return k2;
}

static void city_murmur(const unsigned char *s, size_t n, uint64_t a,
                        uint64_t b, uint64_t out[2]) {
    uint64_t c, d;
    if (n <= 16) {
        a = shift_mix(a * k1) * k1;
        c = b * k1 + hash_len_0_to_16(s, n);
        d = shift_mix(a + (n >= 8 ? f64(s) : c));
    } else {
        long l = (long)n - 16;
        c = hash_len_16(f64(s + n - 8) + k1, a);
        d = hash_len_16(b + n, c + f64(s + n - 16));
        a += d;
        do {
            a ^= shift_mix(f64(s) * k1) * k1;
            a *= k1;
            b ^= a;
            c ^= shift_mix(f64(s + 8) * k1) * k1;
            c *= k1;
            d ^= c;
            s += 16;
            l -= 16;
        } while (l > 0);
    }
    a = hash_len_16(a, c);
    b = hash_len_16(d, b);
    out[0] = a ^ b;
    out[1] = hash_len_16(b, a);
}

/* (a, b) = WeakHashLen32WithSeeds(s, a, b) */
static void weak32(const unsigned char *s, uint64_t *a, uint64_t *b) {
    uint64_t w = f64(s), x = f64(s + 8), y = f64(s + 16), z = f64(s + 24);
    uint64_t aa = *a + w;
    uint64_t bb = rot(*b + aa + z, 21);
    uint64_t c = aa;
    aa += x + y;
    bb += rot(aa, 44);
    *a = aa + z;
    *b = bb + c;
}

static void city_hash_128_with_seed(const unsigned char *s, size_t n,
                                    uint64_t x, uint64_t y, uint64_t out[2]) {
    if (n < 128) {
        city_murmur(s, n, x, y, out);
        return;
    }
    uint64_t z = n * k1;
    uint64_t v0 = rot(y ^ k1, 49) * k1 + f64(s);
    uint64_t v1 = rot(v0, 42) * k1 + f64(s + 8);
    uint64_t w0 = rot(y + z, 35) * k1 + x;
    uint64_t w1 = rot(x + f64(s + 88), 53) * k1;
    do { /* 128 bytes per round, as two 64-byte halves */
        for (int half = 0; half < 2; half++) {
            x = rot(x + y + v0 + f64(s + 16), 37) * k1;
            y = rot(y + v1 + f64(s + 48), 42) * k1;
            x ^= w1;
            y ^= v0;
            z = rot(z ^ w0, 33);
            uint64_t a = v1 * k1, b = x + w0;
            weak32(s, &a, &b);
            v0 = a;
            v1 = b;
            a = z + w1;
            b = y;
            weak32(s + 32, &a, &b);
            w0 = a;
            w1 = b;
            uint64_t t = z;
            z = x;
            x = t;
            s += 64;
        }
        n -= 128;
    } while (n >= 128);
    y += rot(w0, 37) * k0 + z;
    x += rot(v0 + z, 49) * k0;
    /* the tail: up to four 32-byte chunks read back from its end (the
     * last of them may reach into bytes the rounds already consumed) */
    for (size_t tail_done = 0; tail_done < n;) {
        tail_done += 32;
        y = rot(y - x, 42) * k0 + v1;
        w0 += f64(s + n - tail_done + 16);
        x = rot(x, 49) * k0 + w0;
        w0 += v0;
        weak32(s + n - tail_done, &v0, &v1);
    }
    x = hash_len_16(x, v0);
    y = hash_len_16(y, w0);
    out[0] = hash_len_16(x + v1, w1) + y;
    out[1] = hash_len_16(x + w1, y + v1);
}

void cityhash128(const unsigned char *s, size_t n, uint64_t out[2]) {
    if (n >= 16)
        city_hash_128_with_seed(s + 16, n - 16, f64(s) ^ k3, f64(s + 8), out);
    else if (n >= 8)
        city_hash_128_with_seed(s, 0, f64(s) ^ (n * k0), f64(s + n - 8) ^ k1,
                                out);
    else
        city_hash_128_with_seed(s, n, k0, k1, out);
}
